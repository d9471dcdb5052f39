package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.obs.{PlanWalk, StageRecorder}

/** `DataQuality.metrics` against the reference's sequential count deltas,
  * and the shape of the plan it runs.
  */
class QualityMetricsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val base = ConfigLoader.load("config", env = Some("nonexistent"))

  private def config(removeDuplicates: Boolean, validateCountryCodes: Boolean): EtlConfig =
    base.copy(dataQuality = base.dataQuality.copy(
      removeDuplicates = removeDuplicates, validateCountryCodes = validateCountryCodes))

  /** Every filter removes something, and duplicates come with null fields,
    * with a failing filter and with an invalid country.
    */
  private lazy val input: DataFrame = {
    val rows = Seq(
      Row("GT", "20250115", "T001", "R001", "ZPRE", "MAT001", "100.0", "5.0", "CS"),
      Row("GT", "20250115", "T001", "R001", "ZPRE", "MAT001", "100.0", "5.0", "CS"),
      Row("GT", "20250115", "T001", "R001", "ZPRE", "MAT001", "100.0", "5.0", "CS"),
      Row("gt", "20250115", "T001", null, "Z04", "MAT002", "50.0", "10.0", "ST"),
      Row("gt", "20250115", "T001", null, "Z04", "MAT002", "50.0", "10.0", "ST"),
      Row("SV", "20250220", null, null, "ZVE1", "MAT003", null, "3.0", "CS"),
      Row("SV", "20250220", null, null, "ZVE1", "MAT003", null, "3.0", "CS"),
      Row("HN", "20250310", "T003", "R003", "COBR", "MAT004", "75.0", "8.0", "ST"),
      Row("HN", "20250310", "T003", "R003", "COBR", "MAT004", "75.0", "8.0", "ST"),
      Row("EC", "20250415", "T004", "R004", "Z05", "", "120.0", "2.0", "CS"),
      Row("EC", "20250415", "T004", "R004", "Z05", null, "120.0", "2.0", "CS"),
      Row("EC", "20250415", "T004", "R004", "Z05", null, "120.0", "2.0", "CS"),
      Row("EC", "20250415", "T004", null, "Z05", "  ", "120.0", "2.0", "CS"),
      Row("CR", "20250501", "T005", "R005", "ZPRE", "MAT005", "10.0", "1.0", "ST"),
      Row("CR", "20250501", "T005", "R005", "ZPRE", "MAT005", "10.0", "1.0", "ST"),
      Row("CR", "20250502", "T005", null, "Z04", "MAT006", "10.0", "1.0", "ST"),
      Row("PE", "20250601", "T006", "R006", "ZVE1", "MAT007", "0E-18", "4.0", "CS"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Schemas.raw)
  }

  for (dedup <- Seq(true, false); country <- Seq(true, false))
    test(s"counters equal the sequential deltas (removeDuplicates=$dedup, " +
      s"validateCountryCodes=$country)") {
      val cfg = config(dedup, country)
      val expected = SequentialEtl.counters(input, cfg)
      assert(DataQuality.metrics(input, cfg) == expected)
      assert(expected.outputRows == DataQuality(input, cfg).count())
      // the fixture exercises every enabled counter
      assert(expected.removedNullMaterial == 4L)
      assert(expected.removedInvalidType == 2L)
      assert((expected.removedDuplicates > 0L) == dedup, expected)
      assert((expected.removedInvalidCountry > 0L) == country, expected)
    }

  test("the dedup aggregate has no Expand and one hash exchange on the input columns") {
    val rec = StageRecorder.record(spark)(DataQuality.metrics(input, config(true, true)))
    val nodes = rec.executions.flatMap(qe => PlanWalk.nodes(qe.executedPlan)).map(_._2)
    assert(nodes.nonEmpty)
    assert(!nodes.exists(_.isInstanceOf[ExpandExec]), nodes.mkString("\n"))
    val parts = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    val hashed = parts.collect { case h: HashPartitioning => h }
    assert(parts.size == 2, nodes.mkString("\n"))
    assert(parts.contains(SinglePartition), parts)
    assert(hashed.size == 1, parts)
    assert(hashed.head.expressions.map { case a: AttributeReference => a.name } ==
      Schemas.rawColumns, hashed.head)
  }

  test("without dedup the counters are one plain aggregate") {
    val rec = StageRecorder.record(spark)(DataQuality.metrics(input, config(false, true)))
    val nodes = rec.executions.flatMap(qe => PlanWalk.nodes(qe.executedPlan)).map(_._2)
    val parts = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(parts == Seq(SinglePartition), nodes.mkString("\n"))
    assert(!nodes.exists(_.isInstanceOf[ExpandExec]))
  }
}
