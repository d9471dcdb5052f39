package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Per-user running statistics via `transformWithState` — Spark 4's
  * arbitrary-stateful-processing API (the successor to
  * flatMapGroupsWithState: explicit typed state handles, timers, TTL,
  * RocksDB-backed). State here is a single running (count, total) pair
  * per user; each micro-batch emits the user's updated totals, so the
  * final row per user equals the batch aggregate.
  *
  * transformWithState requires the RocksDB state store provider;
  * [[Streams.drain]] sets it for this query alone.
  */
object UserStatsStream {

  case class EventIn(user_id: Long, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  class StatsProcessor extends StatefulProcessor[Long, EventIn, UserStats] {

    @transient private var stats: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState[(Long, Double)](
        "stats", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[UserStats] = {
      val (n0, t0) = if (stats.exists()) stats.get() else (0L, 0.0d)
      var n = n0
      var t = t0
      inputRows.foreach { e => n += 1; t += e.value }
      stats.update((n, t))
      Iterator.single(UserStats(key, n, t))
    }
  }

  /** Drive the processor over the finite events input; the last emitted
    * row per user carries that user's complete totals.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Streams.drain(EventStream.readRaw(spark, dir)
      .select(col("user_id"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new StatsProcessor, TimeMode.None(), OutputMode.Append())
      .toDF(), "append")
  }
}
