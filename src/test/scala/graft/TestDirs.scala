package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.graft.GraftPlans

/** Scratch dirs for the specs, the test-side twin of
  * `graft.queries.TempDirs`: every dir and file lives under one
  * `graft_tests*` root per test JVM in `java.io.tmpdir`, which is deleted
  * with everything under it when the JVM exits. Sibling dirs an index
  * writes next to its own path (`<dir>_bands`, `<dir>_stats`) land under
  * the root too, so a run leaves nothing behind.
  */
object TestDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_tests")
    GraftPlans.deleteOnShutdown(r.toFile)
    r
  }

  /** A fresh `<prefix>*` dir under the run's root. */
  def apply(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A fresh `<prefix>*<suffix>` file under the run's root. */
  def file(prefix: String, suffix: String): Path = Files.createTempFile(root, prefix, suffix)
}
