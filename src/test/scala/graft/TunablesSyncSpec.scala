package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps docs/TUNABLES.md, the registry and the engine in step: every
  * [[Tunables]] key has a conf row and every conf row names a registry
  * key; no `src/main` file but `Tunables.scala` spells a `"spark.graft.*"`
  * key in a string literal; no key is a `*.debug.*` breadcrumb; and the
  * engine packages never `conf.set` a tunable. A row may list sibling
  * keys as `a.b.c` / `d` / `e`, meaning `a.b.c`, `a.b.d`, `a.b.e`.
  * Comments are not scanned.
  */
class TunablesSyncSpec extends AnyFunSuite {
  import TunablesSyncSpec._

  private val repo = new File(".").getCanonicalFile.toPath

  private lazy val sources: Seq[(String, String)] =
    Files.walk(repo.resolve("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => repo.relativize(p).toString ->
        ManifestGuardSpec.code(new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq

  private val registryKeys: Set[String] = Tunables.all.map(_.key).toSet

  private lazy val rowKeys: Set[String] = tunableRows(new String(
    Files.readAllBytes(repo.resolve("docs/TUNABLES.md")), "UTF-8")).toSet

  test("every spark.graft key in src/main has a TUNABLES row") {
    assert(registryKeys.size == Tunables.all.size, "duplicate registry keys")
    val missing = registryKeys -- rowKeys
    assert(missing.isEmpty, s"keys without a docs/TUNABLES.md row: $missing")
  }

  test("every TUNABLES row names a key that src/main reads") {
    assert(rowKeys.nonEmpty, s"run from the repo root, not $repo")
    val stale = rowKeys -- registryKeys
    assert(stale.isEmpty, s"docs/TUNABLES.md rows for unknown keys: $stale")
  }

  test("no src/main file but Tunables.scala spells a spark.graft key") {
    assert(sources.size > 10, s"run from the repo root, not $repo")
    val hits = sources.filter(_._1 != Registry).flatMap { case (f, src) =>
      keyLiterals(src).map(k => s"$f: $k")
    }
    assert(hits.isEmpty, s"spark.graft key literals outside $Registry:\n${hits.mkString("\n")}")
    val spelled = sources.filter(_._1 == Registry).flatMap(s => keyLiterals(s._2)).toSet
    assert(spelled == registryKeys, s"$Registry spells keys outside Tunables.all")
  }

  test("no spark.graft key is a debug breadcrumb") {
    val debug = (registryKeys ++ sources.flatMap(s => keyLiterals(s._2)))
      .filter(_.contains(".debug."))
    assert(debug.isEmpty, s"debug keys: $debug")
  }

  test("the engine packages never set a spark.graft conf") {
    val engine = sources.filter { case (f, _) => EnginePackages.exists(f.startsWith) }
    assert(engine.size > 10, s"run from the repo root, not $repo")
    val hits = engine.flatMap { case (f, src) => tunableSets(src).map(h => s"$f: $h") }
    assert(hits.isEmpty, s"engine code writing a tunable:\n${hits.mkString("\n")}")
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
    assert(tunableSets(
      """spark.conf.set(Tunables.DeleteMode.key, "mor")
        |s.conf.set(graft.Tunables.RowGroupSkip.key,
        |  "false")
        |spark.conf.set("spark.sql.shuffle.partitions", "4")""".stripMargin).size == 2)
  }
}

object TunablesSyncSpec {
  val Registry = "src/main/scala/graft/Tunables.scala"

  private val EnginePackages =
    Seq("operators", "plans", "sources", "streaming").map(p => s"src/main/scala/graft/$p/")

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r

  /** Keys quoted at the start of a string literal. */
  def keyLiterals(src: String): Seq[String] =
    KeyLiteral.findAllMatchIn(src).map(_.group(1)).toSeq

  private val TunableSet = "conf\\.set\\(\\s*(graft\\.)?Tunables\\.\\w+".r

  /** `conf.set` calls whose key is a registry entry's. */
  def tunableSets(src: String): Seq[String] =
    TunableSet.findAllMatchIn(src).map(_.matched).toSeq

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
