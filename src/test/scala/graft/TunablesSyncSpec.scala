package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps docs/TUNABLES.md and the engine's session confs in step: every
  * `"spark.graft.*"` key literal in `src/main` has a row, and every row
  * names a key the engine reads. `*.debug.*` keys are breadcrumbs the
  * engine writes, not tunables, so they need no row. A row may list
  * sibling keys as `a.b.c` / `d` / `e`, meaning `a.b.c`, `a.b.d`, `a.b.e`.
  */
class TunablesSyncSpec extends AnyFunSuite {
  import TunablesSyncSpec._

  private val repo = new File(".").getCanonicalFile.toPath

  private lazy val mainKeys: Set[String] =
    Files.walk(repo.resolve("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap(p => keyLiterals(new String(Files.readAllBytes(p), "UTF-8")))
      .toSet

  private lazy val rowKeys: Set[String] = tunableRows(new String(
    Files.readAllBytes(repo.resolve("docs/TUNABLES.md")), "UTF-8")).toSet

  test("every spark.graft key in src/main has a TUNABLES row") {
    assert(mainKeys.nonEmpty, s"run from the repo root, not $repo")
    val missing = mainKeys.filterNot(_.contains(".debug.")) -- rowKeys
    assert(missing.isEmpty, s"keys without a docs/TUNABLES.md row: $missing")
  }

  test("every TUNABLES row names a key that src/main reads") {
    val stale = rowKeys -- mainKeys
    assert(stale.isEmpty, s"docs/TUNABLES.md rows for unknown keys: $stale")
  }

  test("the parsers see literals and sibling lists") {
    assert(keyLiterals("""conf.get("spark.graft.a.b") + "x.spark.graft.c"
      |s"spark.graft.d.e must be positive" "spark.graft.f.debug.g"""".stripMargin)
      == Seq("spark.graft.a.b", "spark.graft.d.e", "spark.graft.f.debug.g"))
    assert(tunableRows(
      "| conf | default |\n|---|---|\n" +
        "| `spark.graft.x.aa` / `bb` | `1` |\n" +
        "| `spark.graft.y` | `2` |\n| `Op.param` | `3` |") ==
      Seq("spark.graft.x.aa", "spark.graft.x.bb", "spark.graft.y"))
  }
}

object TunablesSyncSpec {
  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r

  /** Keys quoted at the start of a string literal. */
  def keyLiterals(src: String): Seq[String] =
    KeyLiteral.findAllMatchIn(src).map(_.group(1)).toSeq

  /** The keys of the conf rows: the first cell's backquoted names, with
    * a sibling's bare suffix resolved against the first key's prefix.
    */
  def tunableRows(md: String): Seq[String] =
    md.linesIterator.filter(_.startsWith("| `spark.graft.")).toSeq.flatMap {
      row =>
        val names = row.split('|')(1).split(" / ").map(_.trim.stripPrefix("`")
          .stripSuffix("`")).toSeq
        val prefix = names.head.take(names.head.lastIndexOf('.') + 1)
        names.head +: names.tail.map(prefix + _)
    }
}
