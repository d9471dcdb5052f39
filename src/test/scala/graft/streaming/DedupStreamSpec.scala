package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

class DedupStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // every event arrives twice (the stream unioned with itself)
  test("streaming dedup emits each event_id exactly once") {
    val streamed = EventStream.dedupUnionStream(spark, dir)
    val ids = streamed.collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    val batchDistinct = Tables.table(spark, dir, "events")
      .select("event_id").distinct().count()
    assert(ids.length.toLong == batchDistinct)
  }
}
