package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

class ForeachBatchSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("foreachBatch through the DSv2 sink equals the batch dedup result") {
    val out = graft.TestDirs("graft_febatch").toString
    EventStream.dedupToJsonSink(spark, dir, out)
    val back = spark.read
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType))))
      .json(s"$out/batch=*")
    val streamedIds = back.select("event_id").collect().map(_.getLong(0)).sorted
    val batchIds = Tables.table(spark, dir, "events")
      .select("event_id").distinct().collect().map(_.getLong(0)).sorted
    assert(streamedIds.length == streamedIds.distinct.length) // exactly once
    assert(streamedIds.toSeq == batchIds.toSeq)
  }

  test("hourly aggregation is identical under the RocksDB state store") {
    val batch = graft.SparkEntry.queries("ev_hourly_agg")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = EventStream.runToCompletion(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
