package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Exactly-once file sink: a checkpointed writeStream to parquet commits
  * each input file once; restarting the query against the same
  * checkpoint emits nothing new (no duplicates), and the sink's commit
  * log makes partial output invisible to readers.
  */
class FileSinkCheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("checkpointed parquet sink is exactly-once across restarts") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val out = graft.TestDirs("graft_stream_sink").toString
    val checkpoint = graft.TestDirs("graft_stream_ckpt").toString

    def runOnce(): Unit = {
      val q = EventStream.readRaw(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 1000L)

    runOnce() // same checkpoint: the input file is already committed
    val afterSecond = spark.read.parquet(out).count()
    assert(afterSecond == 1000L, "restart must not duplicate rows")

    // distinct ids preserved end to end
    assert(spark.read.parquet(out)
      .select(countDistinct(col("event_id"))).head().getLong(0) == 1000L)
  }
}
