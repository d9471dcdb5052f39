package graft

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the tests hermetic: the configs and the test sources may name
  * absolute paths only inside the repository, under the shared test-data
  * root, or under the temp dir (outputs). Anything else is an input some
  * checkouts lack, as the reference CSV once was.
  *
  * Scala files are checked in their string literals, config files in their
  * values; comments are not checked (they cite sources, they read nothing).
  */
class PathGuardSpec extends AnyFunSuite {
  import PathGuardSpec._

  private val repo = new File(".").getCanonicalFile.toPath
  private val allowedRoots: Seq[String] = Seq(repo.toString, TestDataRoot,
    new File(System.getProperty("java.io.tmpdir")).getCanonicalPath)

  private def allowed(path: String): Boolean =
    Labels(path) || allowedRoots.exists(r => path == r || path.startsWith(r + "/"))

  private def violations(file: Path): Seq[String] = {
    val text = new String(Files.readAllBytes(file), "UTF-8")
    val chunks = if (file.toString.endsWith(".scala")) stringLiterals(text)
      else text.linesIterator.map(_.takeWhile(_ != '#')).toSeq
    chunks.flatMap(absolutePaths).filterNot(allowed)
      .map(p => s"${repo.relativize(file)}: $p")
  }

  test("configs and tests name no absolute path outside the repo and test data") {
    assert(Files.isDirectory(repo.resolve("config")), s"run from the repo root, not $repo")
    val files = Seq("config", "src/test").flatMap { d =>
      Files.walk(repo.resolve(d)).iterator.asScala
        .filter(p => Files.isRegularFile(p) && Scanned.exists(p.toString.endsWith))
        .toSeq
    }.filterNot(_.endsWith("PathGuardSpec.scala")) // its own negative controls
    assert(files.exists(_.toString.endsWith("config.yaml")))
    val bad = files.flatMap(violations)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the scan sees literals and config values, not comments") {
    val src = "// reads /elsewhere/a.csv\nval p = \"/elsewhere/b.csv\" /* /elsewhere/c */\n" +
      "val q = s\"paths.output_base=/elsewhere/d\"\nval r = \"\"\"x /elsewhere/e\"\"\""
    assert(stringLiterals(src).flatMap(absolutePaths) ==
      Seq("/elsewhere/b.csv", "/elsewhere/d", "/elsewhere/e"))
    assert(absolutePaths("  input_file: /elsewhere/raw.csv") == Seq("/elsewhere/raw.csv"))
    assert(absolutePaths("sum(x) / count(*), yyyy/MM/dd, a/b, 1/2").isEmpty)
    assert(!allowed("/elsewhere/raw.csv"))
    assert(allowed(repo.resolve("config").toString) && allowed(TestDataRoot + "/sf0.01"))
  }
}

object PathGuardSpec {
  /** Read-only synthetic tables every session provides (TESTDATA.md). */
  val TestDataRoot = "/root/testdata"

  /** Path-shaped literals that are only parsed or hashed, never opened. */
  val Labels = Set(
    "/cfg", // MainCliSpec: a --config-dir value the CLI parser echoes back
    "/ckpt/crash-test", "/ckpt/other") // CdcMergeStreamSpec: app-id seeds

  val Scanned = Seq(".scala", ".yaml", ".yml", ".json", ".properties", ".conf")

  private val PathRx = """(?<![\w.$}/~\\])/[A-Za-z_][\w.-]*(?:/[\w.*-]+)*""".r

  def absolutePaths(s: String): Seq[String] = PathRx.findAllIn(s).toSeq

  /** Contents of the string literals in Scala source, comments skipped. */
  def stringLiterals(src: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) i = src.indexOf('\n', i) match { case -1 => src.length; case j => j }
      else if (at("/*")) i = src.indexOf("*/", i + 2) match { case -1 => src.length; case j => j + 2 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3) match { case -1 => src.length; case j => j }
        out += src.substring(i + 3, end)
        i = end + 3
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        out += src.substring(i + 1, math.min(j, src.length))
        i = j + 1
      } else if (at("'") && (i + 1 until i + 4).exists(j => src.startsWith("'", j)))
        i = src.indexOf('\'', i + 1) + 1 // a char literal
      else i += 1
    }
    out.result()
  }
}
