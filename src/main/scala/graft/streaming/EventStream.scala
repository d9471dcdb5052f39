package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Structured Streaming over the `events` table: the same hourly windowed
  * aggregation the batch path computes, expressed as
  * readStream → watermark → window → writeStream. In production this runs
  * against a file/Kafka source with late data bounded by the watermark;
  * here the finite parquet directory drives it to completion so batch and
  * stream results can be compared exactly (EventStreamSpec + the
  * `ev_hourly_stream` query).
  *
  * The file source requires an explicit schema, and the fixture's `ts`
  * column has shipped both as INT64 nanos and as timestamp[us]
  * (see [[graft.Tables]]) — so the schema is sniffed from the parquet
  * footer at stream start ([[storedSchema]]) and every event-time
  * derivation goes through [[withEventTs]], which adapts to whichever
  * type `ts` arrived as. A fixture regeneration changes neither results
  * nor code.
  */
object EventStream {

  /** events schema exactly as stored, read from the parquet footer (a
    * driver-side metadata read, not a data scan).
    */
  def storedSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.option("pathGlobFilter", "events.parquet").parquet(dir).schema
  }

  /** readStream over `events.parquet` with the stored schema. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(storedSchema(spark, dir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)

  /** Append `event_ts` (TimestampType, microsecond resolution) derived
    * from whatever shape `ts` arrived in — works on batch and streaming
    * DataFrames alike.
    */
  def withEventTs(df: DataFrame): DataFrame =
    df.withColumn("event_ts",
      timestamp_micros(Tables.eventTsMicros(df.schema("ts").dataType)))

  /** The shared aggregation: tumbling 1h windows per event_type.
    * Works on both batch and streaming DataFrames (same code path —
    * that's the point of the Dataset API).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    withEventTs(events)
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DoubleType).as("total_value"))
      .select(
        (unix_timestamp(col("window.start")) / 3600L).cast("long").as("hour_bucket"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming dedup under genuine at-least-once delivery: the event
    * stream UNIONED WITH ITSELF (every event delivered twice, the way a
    * replayed Kafka partition or a retried file listing duplicates a
    * feed), then dropDuplicatesWithinWatermark restores exactly-once.
    * Late second copies are equivalent whether the watermark drops them
    * or the dedup state does — both copies carry the same event time, so
    * exactly one survives on every path. Each key's state carries an
    * expiry derived from the event time and is evicted once the
    * watermark passes it; plain dropDuplicates("event_id") would keep
    * state without bound on an unbounded stream. Returns the deduped
    * rows; the gate aggregates them and compares against the batch
    * DISTINCT of the single-copy table.
    */
  def dedupUnionStream(spark: SparkSession, dir: String): DataFrame = {
    def src = readRaw(spark, dir)
    Streams.drain(withEventTs(src.union(src))
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"), col("value")), "append")
  }

  /** Streaming → external sink with exactly-once semantics: each
    * micro-batch lands in its own `batch=<id>` directory through the
    * graft-json DSv2 sink. Idempotence under batch replay comes from the
    * composition — a recovered/re-run batch id overwrites its own
    * directory, and the sink's atomic manifest rename means a reader
    * never observes a half-written batch. This is the canonical
    * foreachBatch pattern for sinks without native streaming support.
    */
  def dedupToJsonSink(spark: SparkSession, dir: String, out: String): Unit = {
    val stream = readRaw(spark, dir)
    val q = withEventTs(stream)
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/_checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.format("graft-json").mode("overwrite").save(s"$out/batch=$id")
      }
      .start()
    q.awaitTermination()
  }

  /** Stream-static enrichment: each micro-batch of the event stream
    * joins a static dimension (customer segment) before aggregating —
    * the canonical "enrich the firehose against reference data" shape.
    * The static side is re-resolved per micro-batch and explicitly
    * broadcast, so the streaming side never shuffles for the join; at
    * 100 TB/day the stream stays partition-local and only the dimension
    * moves. Aggregation runs in complete mode here (finite input);
    * production would window + watermark as in hourlyAgg.
    */
  def enrichedAgg(spark: SparkSession, dir: String): DataFrame = {
    val stream = readRaw(spark, dir)
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    Streams.drain(stream
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(coalesce(col("segment"), lit("UNKNOWN")).as("segment"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DoubleType).as("total_value")),
      "complete")
  }

  /** Batch twin of [[enrichedAgg]] for exact comparison. */
  def enrichedAggBatch(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.table(spark, dir, "events")
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    events
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(coalesce(col("segment"), lit("UNKNOWN")).as("segment"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DoubleType).as("total_value"))
  }

  /** Streaming session windows: the same gap-merged session_window
    * aggregation as the batch ev_session_window query, run as a stream
    * with a 1h watermark and append output. Append emits a session only
    * once the watermark passes its end, so on a finite input the result
    * is exactly the batch sessions whose end precedes
    * (max event time − watermark) — the tail stays open, which is the
    * correct unbounded-stream semantics, asserted in
    * SessionWindowStreamSpec.
    */
  def sessionWindowStream(spark: SparkSession, dir: String): DataFrame = {
    Streams.drain(withEventTs(readRaw(spark, dir))
      .withWatermark("event_ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events")), "append")
  }

  /** Stream-stream interval join: purchases joined to clicks of the
    * same user within the preceding 30 minutes — BOTH sides streaming,
    * state bounded by the two watermarks plus the join's time range (the
    * engine evicts click state once the purchase-side watermark passes
    * its 30-minute relevance window). The canonical two-firehose
    * correlation; at scale each side shuffles once on user_id and the
    * state store holds only the watermark-bounded window.
    */
  def intervalJoinStream(spark: SparkSession, dir: String): DataFrame = {
    def side(kind: String) = {
      val raw = readRaw(spark, dir)
      raw.filter(col("event_type") === kind)
        .withColumn("ts_evt",
          timestamp_micros(Tables.eventTsMicros(raw.schema("ts").dataType)))
    }
    val purchases = side("purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_evt").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_evt").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    Streams.drain(purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("click_id")), "append")
  }

  /** Run the streaming flavor to completion over the finite input and
    * return the materialized result.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame =
    Streams.drain(hourlyAgg(readRaw(spark, dir)), "complete")

  /** Sliding (hopping) windows: 1-hour windows advancing every 15
    * minutes, so each event lands in FOUR overlapping windows — the
    * moving-rate shape (errors-per-hour updated every 15 min). Same code
    * path batch and stream; on a stream the watermark bounds how long
    * each of the four open windows stays in state.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    withEventTs(events)
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DoubleType).as("total_value"))
      .select(
        unix_timestamp(col("window.start")).as("start_s"),
        col("event_type"), col("n_events"), col("total_value"))

  /** `slidingAgg` driven through Structured Streaming to completion. */
  def runSlidingToCompletion(spark: SparkSession, dir: String): DataFrame =
    Streams.drain(slidingAgg(readRaw(spark, dir)), "complete")
}
