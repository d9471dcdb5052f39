package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Stream-static enrichment must equal its batch twin exactly, and the
  * static dimension side must be broadcast (the stream never shuffles
  * for the join).
  */
class EnrichStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("stream-static broadcast enrichment equals the batch join") {
    val streamed = EventStream.enrichedAgg(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventStream.enrichedAggBatch(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("enrichedAgg leaves no memory-sink temp view or cached table behind") {
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    EventStream.enrichedAgg(spark, dir).count()
    val leaked = views -- before
    assert(leaked.isEmpty, leaked.mkString(","))
  }

  test("the enrichment join is broadcast in the batch twin's plan") {
    val p = EventStream.enrichedAggBatch(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
