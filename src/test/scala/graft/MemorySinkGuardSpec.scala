package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps stream draining in one place: no `src/main` file but
  * `streaming/Streams.scala` writes to a memory sink, so a hand-copied
  * drain (and the temp view, cache and conf it used to leave behind)
  * cannot come back. Comments are not scanned.
  */
class MemorySinkGuardSpec extends AnyFunSuite {
  import MemorySinkGuardSpec._

  private val repo = new java.io.File(".").getCanonicalFile.toPath

  test("no src/main file but the drain writes to a memory sink") {
    val sources = Files.walk(repo.resolve("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => repo.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
    assert(sources.size > 10, s"run from the repo root, not $repo")
    val hits = sources.collect {
      case (f, src) if memorySinks(src) > 0 => s"$f: ${memorySinks(src)}"
    }
    assert(hits == Seq(s"$DrainModule: 1"),
      s"memory sinks outside $DrainModule:\n${hits.mkString("\n")}")
  }

  test("the scanner sees the spellings and skips comments") {
    assert(memorySinks(
      """q.writeStream.format("memory").queryName(n)
        |  .format( "memory" )
        |// .format("memory") in a comment
        |/** .format("memory") in a doc */
        |.format("parquet")""".stripMargin) == 2)
  }
}

object MemorySinkGuardSpec {
  val DrainModule = "src/main/scala/graft/streaming/Streams.scala"

  private val MemorySink = "format\\(\\s*\"memory\"\\s*\\)".r

  def memorySinks(src: String): Int =
    MemorySink.findAllMatchIn(ManifestGuardSpec.code(src)).size
}
