package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Every scale workload once, at the smallest corpus its checks stay
  * meaningful at: its `require`s pass, its `graft.Profile` line carries
  * exactly its declared result keys, and the run leaves nothing behind in
  * `java.io.tmpdir` or the session catalog.
  *
  * 2,000 docs keeps every floor above zero — 20 re-crawled twins in the
  * 1% batches, 200 in the 10% batch, 100 planted fuzzy names, 200
  * vectors over IVF's 24 append batches — except `lsh`'s skew guard: its
  * boilerplate clique (nDocs/100 identical docs) must outgrow the
  * 1,024-doc bucket cap, or the guarded and unguarded miners agree
  * trivially, so `lsh` runs at 102,500.
  */
class ScaleWorkloadsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val nDocs: Map[String, Long] = Map("lsh" -> 102500L).withDefaultValue(2000L)

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Once per JVM, the process-wide temp entries a first run creates: the
    * context's session-artifact root and the extracted lz4 and snappy
    * native libraries.
    */
  private lazy val processTemps: Unit = ScaleWorkloads.isolated(spark, 100L) { r =>
    r.spark.range(100).repartition(2).write.parquet(r.dir("warm"))
  }

  /** What `body` added to the top level of `java.io.tmpdir`. */
  private def leftInTmp(body: => Unit): Set[String] = {
    processTemps
    def entries(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val before = entries()
    body
    entries() -- before
  }

  ScaleWorkloads.all.foreach { w =>
    test(s"${w.name}: checks pass and the line carries the declared keys") {
      val n = nDocs(w.name)
      var line = ""
      assert(leftInTmp {
        line = Profile.scaleJson(w.name, n, Seq(ScaleWorkloads.record(spark, w, n)))
      }.isEmpty)
      val json = new ObjectMapper().readTree(line)
      assert(json.get("n_docs").asLong() == n)
      assert(json.get("results").fieldNames.asScala.toSeq == w.keys)
      assert(w.keys.distinct == w.keys)
      // bucketed_join's database lives in the context-wide catalog
      assert(!spark.catalog.databaseExists("bktsmoke"))
    }
  }

  test("a workload body that throws leaves no temp dir behind") {
    val left = leftInTmp {
      val e = intercept[IllegalStateException] {
        ScaleWorkloads.isolated(spark, 100L) { r =>
          r.spark.range(10).write.parquet(r.dir("partial"))
          throw new IllegalStateException("mid-run failure")
        }
      }
      assert(e.getMessage == "mid-run failure")
    }
    assert(left.isEmpty, left)
  }
}
