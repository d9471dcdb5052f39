package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.graft.GraftPlans

/** Scratch dirs for the queries that write artifacts while they are
  * built (index gates, source round trips). A built query can run any
  * number of times after its builder returns, so nothing may delete the
  * dir earlier than JVM exit.
  */
private[queries] object TempDirs {

  /** A fresh `<prefix>*` dir under `java.io.tmpdir`, deleted with
    * everything under it when the JVM exits.
    */
  def apply(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    GraftPlans.deleteOnShutdown(dir.toFile)
    dir.toString
  }
}
