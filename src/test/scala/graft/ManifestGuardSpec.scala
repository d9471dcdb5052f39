package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the graft table manifest behind one module: no `src/main` file
  * but `sources/Manifest.scala` spells a manifest key (`"rows":`,
  * `"files":`, `"dvs":`, `"txn":`, `"ref":`) or a manifest file name in
  * a string literal, or hands a manifest path to a `Files` call that
  * writes, copies or moves onto it. Comments are not scanned.
  */
class ManifestGuardSpec extends AnyFunSuite {
  import ManifestGuardSpec._

  private val repo = new java.io.File(".").getCanonicalFile.toPath

  private lazy val sources: Seq[(String, String)] =
    Files.walk(repo.resolve("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => repo.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .filter(_._1 != ManifestModule)
      .toSeq

  test("no src/main file but the manifest module spells the manifest format") {
    assert(sources.size > 10, s"run from the repo root, not $repo")
    val hits = sources.flatMap { case (f, src) =>
      formatLiterals(src).filterNot(Exempt.getOrElse(f, Set.empty[String])).map(h => s"$f: $h")
    }
    assert(hits.isEmpty, s"manifest format outside $ManifestModule:\n${hits.mkString("\n")}")
  }

  test("no src/main file but the manifest module writes or moves onto a manifest") {
    val hits = sources.flatMap { case (f, src) => manifestWrites(src).map(h => s"$f: $h") }
    assert(hits.isEmpty, s"manifest writes outside $ManifestModule:\n${hits.mkString("\n")}")
  }

  test("the scanners see the hand-written forms and skip comments") {
    assert(formatLiterals(
      """val m = new StringBuilder().append("{\"rows\":").append(n)
        |  .append(",\"files\":[")
        |val c = {"rows":$rows,"files":["$f"]}
        |val r = "\"rows\":(\\d+)".r
        |val h = dir.resolve("_graft_manifest.json")
        |// "dvs": only in a comment
        |/** {"txn":{"app":3}} in a doc */""".stripMargin) ==
      Seq("rows", "files", "rows", "files", "rows", "_graft_manifest"))
    assert(manifestWrites(
      """Files.move(tmp, dir.resolve(GraftJsonSink.ManifestName),
        |  StandardCopyOption.ATOMIC_MOVE)
        |Files.write(dir.resolve(GraftJsonSink.branchManifest(b)), bytes)
        |Files.copy(src, Manifest.path(dir, Manifest.Head))
        |Files.move(Paths.get(e.tmpPath), target, StandardCopyOption.REPLACE_EXISTING)
        |Files.deleteIfExists(dir.resolve(Manifest.FileName))""".stripMargin).size == 3)
  }
}

object ManifestGuardSpec {
  val ManifestModule = "src/main/scala/graft/sources/Manifest.scala"

  /** The stats sidecar's per-file entries carry a `rows` count of their
    * own (`{"rows":N,"cols":{...}}`), which is not the manifest's key.
    */
  private val Exempt = Map("src/main/scala/graft/sources/GraftStats.scala" -> Set("rows"))

  private val Comment = "(?s:/\\*.*?\\*/)|(?m:^\\s*//[^\n]*$)".r

  /** `src` without its comments. */
  def code(src: String): String = Comment.replaceAllIn(src, "")

  // a key inside a string literal: escaped (\"rows\":) or bare ("rows":
  // in a triple-quoted or interpolated literal); the file names as quoted
  private val FormatLiteral =
    ("\\\\?\"(rows|files|dvs|txn|ref)\\\\?\"\\s*:|\"(_graft_manifest|_graft_branch_)").r

  def formatLiterals(src: String): Seq[String] =
    FormatLiteral.findAllMatchIn(code(src))
      .map(m => Option(m.group(1)).getOrElse(m.group(2))).toSeq

  private val WriteCall =
    "Files\\.(move|copy|write|writeString|newOutputStream|newBufferedWriter)\\(".r
  private val ManifestRef =
    "Manifest\\.|ManifestName|branchManifest|_graft_manifest|_graft_branch_".r

  /** `Files` write/copy/move calls whose argument list names a manifest. */
  def manifestWrites(src: String): Seq[String] = {
    val text = code(src)
    WriteCall.findAllMatchIn(text).flatMap { m =>
      var depth = 1
      var i = m.end
      while (i < text.length && depth > 0) {
        text.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val call = text.substring(m.start, i)
      if (ManifestRef.findFirstIn(call).isDefined) Some(call.replaceAll("\\s+", " "))
      else None
    }.toSeq
  }
}
