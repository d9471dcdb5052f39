package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

final case class UserEvent(user_id: Long, ts_us: Long, event_id: Long)
final case class SessionState(lastTs: Long, sessions: Long, events: Long)
final case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)

/** Custom stateful streaming: per-user session counting over a
  * `flatMapGroupsWithState` operator with explicit state — the engine's
  * pattern for arbitrary streaming state machines (the windowed-agg path
  * covers the declarative cases; this covers the rest).
  *
  * Gap rule matches the batch `ev_sessionize` query: a new session starts
  * when the gap to the previous event exceeds 30 minutes. Events within a
  * micro-batch are sorted by (ts, id); state carries the last timestamp
  * across batches.
  */
object SessionizeStream {

  val GapUs: Long = 30L * 60 * 1000000L

  def updateState(
      userId: Long,
      batch: Iterator[UserEvent],
      state: GroupState[SessionState]): Iterator[SessionSummary] = {
    val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
    sorted.foreach { e =>
      val newSession = st.lastTs == Long.MinValue || e.ts_us - st.lastTs > GapUs
      st = SessionState(
        lastTs = e.ts_us,
        sessions = st.sessions + (if (newSession) 1 else 0),
        events = st.events + 1)
    }
    state.update(st)
    Iterator.single(SessionSummary(userId, st.sessions, st.events))
  }

  /** Drive the stream over the finite events table and return the final
    * per-user session summaries.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = EventStream.readRaw(spark, dir)
    val stream = raw
      .select(col("user_id"),
        graft.Tables.eventTsMicros(raw.schema("ts").dataType).as("ts_us"),
        col("event_id"))
      .as[UserEvent]
    val updates = Streams.drain(stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(updateState)
      .toDF(), "update")
    // keep only each user's final (latest) summary
    updates.groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"), max(col("n_events")).as("n_events"))
  }
}
