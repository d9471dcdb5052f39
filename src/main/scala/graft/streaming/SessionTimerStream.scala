package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Inactivity-timeout sessionization driven by EVENT-TIME TIMERS — the
  * transformWithState capability the ValueState-only processor
  * ([[UserStatsStream]]) doesn't exercise. Sessions that end mid-batch
  * emit immediately; each user's dangling last session is parked in
  * state with a timer at (session end + gap), and the TIMER — not a
  * later input row — emits it once the watermark passes. That is the
  * semantics a production session pipeline needs: a user who walks away
  * still gets their session flushed when the clock (watermark) says no
  * more of their events can arrive.
  */
object SessionTimerStream {

  val GapMs: Long = 30L * 60 * 1000

  case class EvIn(user_id: Long, ts_ms: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  class TimerSessionProcessor
      extends StatefulProcessor[Long, EvIn, SessionOut] {

    @transient private var open: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long, Long)](
        "open", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[EvIn],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val incoming = inputRows.map(_.ts_ms).toArray.sorted
      if (incoming.isEmpty) return Iterator.empty
      // resume the parked session when the first new event continues it,
      // else flush it as complete; then fold events gap-wise, emitting
      // every session a later event closes
      val parked = if (open.exists()) Some(open.get()) else None
      var out = Vector.empty[SessionOut]
      var s0 = parked match {
        case Some(p) if incoming.head - p._2 <= GapMs => p
        case Some(p) =>
          out :+= SessionOut(key, p._1, p._2, p._3)
          (incoming.head, incoming.head, 0L)
        case None => (incoming.head, incoming.head, 0L)
      }
      incoming.foreach { t =>
        s0 = if (t - s0._2 <= GapMs) (s0._1, math.max(s0._2, t), s0._3 + 1)
        else { out :+= SessionOut(key, s0._1, s0._2, s0._3); (t, t, 1L) }
      }
      // park the trailing session; (re)arm its inactivity timer
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      open.update(s0)
      getHandle.registerTimer(s0._2 + GapMs)
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!open.exists()) return Iterator.empty
      val (st, en, n) = open.get()
      // the timer sits at end+gap: expiry means the watermark passed it,
      // so no event can extend this session any more
      if (expiredTimerInfo.getExpiryTimeInMs() >= en + GapMs) {
        open.clear()
        Iterator.single(SessionOut(key, st, en, n))
      } else Iterator.empty
    }
  }

  /** Drive over the finite events fixture; returns all emitted sessions. */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = EventStream.readRaw(spark, dir)
    val tsType = raw.schema("ts").dataType
    Streams.drain(raw
      .withColumn("ts_evt", timestamp_micros(graft.Tables.eventTsMicros(tsType)))
      .withWatermark("ts_evt", "1 second")
      .select(col("user_id"), graft.Tables.eventTsMillis(tsType).as("ts_ms"))
      .as[EvIn]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(), "append")
  }
}
