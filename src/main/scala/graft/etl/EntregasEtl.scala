package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Run metrics, mirroring the reference's metrics dict
  * (`/root/reference/src/etl_entregas.py:558-573` + `main.py:233-238`).
  * `toJson` renders the dict FIELD-FOR-FIELD — same keys, same nesting,
  * same semantics — so a consumer of the reference's
  * `execution_metrics.json` reads this engine's output unchanged
  * (EtlMetricsParitySpec asserts the schema against the documented dict).
  */
final case class RunMetrics(
    environment: String,
    startDate: String,
    endDate: String,
    country: Option[String],
    quality: QualityMetrics,
    finalRows: Long,
    partitionsCreated: Map[String, Long],
    outputPath: String,
    outputFormat: String,
    startTimeIso: String,
    endTimeIso: String,
    executionTimeSeconds: Double) {

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // partitions_created is the reference's list of partition dates
    // (`etl_entregas.py:509-514`); per-date row counts ride alongside in
    // partition_row_counts (an engine extra — additive, never renaming)
    val dates = partitionsCreated.keys.toSeq.sorted
    val counts = dates.map(d => s"${q(d)}: ${partitionsCreated(d)}").mkString("{", ", ", "}")
    s"""{
       |  "status": "SUCCESS",
       |  "environment": ${q(environment)},
       |  "start_time": ${q(startTimeIso)},
       |  "end_time": ${q(endTimeIso)},
       |  "execution_time_seconds": $executionTimeSeconds,
       |  "filters_applied": {
       |    "start_date": ${q(startDate)},
       |    "end_date": ${q(endDate)},
       |    "country": ${country.map(q).getOrElse("null")}
       |  },
       |  "quality_metrics": {
       |    "registros_iniciales": ${quality.inputRows},
       |    "registros_null_material": ${quality.removedNullMaterial},
       |    "registros_duplicados": ${quality.removedDuplicates},
       |    "registros_tipo_invalido": ${quality.removedInvalidType},
       |    "registros_finales": ${quality.outputRows}
       |  },
       |  "output_info": {
       |    "output_path": ${q(outputPath)},
       |    "partitions_created": ${dates.map(q).mkString("[", ", ", "]")},
       |    "total_partitions": ${dates.size},
       |    "format": ${q(outputFormat)},
       |    "partition_row_counts": $counts
       |  },
       |  "final_record_count": $finalRows
       |}""".stripMargin
  }
}

/** The full pipeline: extract → data quality → filters → transform →
  * standardize → load, each stage an independently callable pure function
  * (reference entry point 2, `/root/reference/tests/test_etl.py:117-120`,
  * requires exactly this decomposition).
  *
  * Unlike the reference — which re-reads the CSV ~15 times because every
  * metric is an eager `count()` — the run parses the input once and
  * caches it deduplicated and hash-partitioned by `fecha_proceso`
  * (`DataQuality.grouped`). That cache costs the run's only shuffle, and
  * the dedup's combine runs below it: each scan split ships its distinct
  * rows with their counts, not every row. The quality counters, the
  * filtered rows and Load's write and partition counts all read that
  * cache: same numbers, O(1) scans.
  */
final class EntregasEtl(val config: EtlConfig, val spark: SparkSession) {

  def extract(): DataFrame = Extract(spark, config.paths.inputFile)
  def applyDataQuality(df: DataFrame): DataFrame = DataQuality(df, config)
  def qualityMetrics(df: DataFrame): QualityMetrics = DataQuality.metrics(df, config)
  def applyFilters(df: DataFrame): DataFrame = Filters(df, config.filters)
  def transform(df: DataFrame): DataFrame = Transform(df, config)
  def standardize(df: DataFrame): DataFrame = Standardize(df, config)

  def run(): RunMetrics = {
    val t0 = System.nanoTime()
    val startIso = java.time.LocalDateTime.now().toString
    val raw = extract()
    // One task per scan split at most: a cached plan is never
    // AQE-coalesced, so a width beyond the input's runs idle tasks.
    val width = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      raw.rdd.getNumPartitions)
    val grouped = DataQuality.grouped(raw, config, col("fecha_proceso"), width).cache()
    try {
      val quality = DataQuality.counters(grouped, config)
      val filtered = applyFilters(DataQuality.keep(grouped, config))
      val output = standardize(transform(filtered))
      val partitions = Load(output, config.paths.outputBase, config.paths.outputFormat)
      RunMetrics(
        environment = config.environment,
        startDate = config.filters.startDate,
        endDate = config.filters.endDate,
        country = config.filters.country,
        quality = quality,
        finalRows = partitions.values.sum,
        partitionsCreated = partitions,
        outputPath = config.paths.outputBase,
        outputFormat = config.paths.outputFormat,
        startTimeIso = startIso,
        endTimeIso = java.time.LocalDateTime.now().toString,
        executionTimeSeconds = (System.nanoTime() - t0) / 1e9)
    } finally grouped.unpersist()
  }
}

object EntregasEtl {
  /** Factory mirroring `create_etl` (`/root/reference/src/etl_entregas.py:591-601`):
    * builds the SparkSession from config when none is supplied.
    */
  def apply(config: EtlConfig, existing: Option[SparkSession] = None): EntregasEtl = {
    val spark = existing.getOrElse {
      val b = SparkSession.builder()
        .appName(config.spark.appName)
        .master(config.spark.master)
      config.spark.configs.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel(config.spark.logLevel)
      s
    }
    new EntregasEtl(config, spark)
  }
}
