package graft.etl

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftPlans
import org.apache.spark.sql.types._

/** Quality-stage counters, defined exactly as the reference's sequential
  * count deltas (`/root/reference/src/etl_entregas.py:127-170`): each
  * counter is "rows removed by this filter given everything before it ran".
  * The engine computes them in one job (`DataQuality.metrics`) instead of
  * the reference's ~10 full rescans, but the values are identical by
  * construction.
  */
final case class QualityMetrics(
    inputRows: Long,
    removedNullMaterial: Long,
    removedInvalidType: Long,
    removedDuplicates: Long,
    removedInvalidCountry: Long) {
  def outputRows: Long =
    inputRows - removedNullMaterial - removedInvalidType - removedDuplicates -
      removedInvalidCountry
}

/** S1/S2 — CSV source (`/root/reference/src/etl_entregas.py:92-111`).
  * RFC-4180 embedded quotes: quote `"`, escape `"`.
  */
object Extract {
  def apply(spark: SparkSession, inputFile: String): DataFrame =
    spark.read
      .schema(Schemas.raw)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(inputFile)
}

/** F1–F4 — data-quality filters (`/root/reference/src/etl_entregas.py:127-170`).
  * Both the filtered rows and the counters derive from one relation,
  * [[grouped]]: the input with dedup's grouping already done, so a run
  * that caches it pays for the dedup exchange once.
  */
object DataQuality {

  /** The multiplicity column [[grouped]] adds. */
  private val N = "__dq_n"

  def materialOk: Column = col("material").isNotNull && trim(col("material")) =!= ""
  def typeOk(validTypes: Seq[String]): Column = col("tipo_entrega").isin(validTypes: _*)
  def countryOk(validCountries: Seq[String]): Column =
    upper(col("pais")).isin(validCountries: _*)

  /** The enabled F1, F2 and F4 predicates, `lit(true)` where disabled. */
  private def predicates(cfg: EtlConfig): (Column, Column, Column) = {
    val dq = cfg.dataQuality
    (if (dq.removeNullMaterial) materialOk else lit(true),
      typeOk(cfg.businessRules.validTypes),
      if (dq.validateCountryCodes) countryOk(dq.validCountries) else lit(true))
  }

  /** With dedup on, the input's distinct rows with their multiplicity
    * `__dq_n`: grouped by all columns, null-safe exactly like
    * `dropDuplicates`, with a map-side partial aggregate and one hash
    * exchange unless `df` is already clustered on a subset of them. With
    * dedup off, the input with `__dq_n = 1` and no exchange.
    */
  def grouped(df: DataFrame, cfg: EtlConfig): DataFrame =
    if (cfg.dataQuality.removeDuplicates)
      df.groupBy(df.columns.toSeq.map(col): _*).agg(count(lit(1)).as(N))
    else df.withColumn(N, lit(1L))

  /** The rows and partitioning of `grouped(df.repartition(width,
    * clusterBy), cfg)`: hash-partitioned on `clusterBy` into `width`
    * partitions (one at width 1) by the one exchange. With dedup on, the
    * combine runs BELOW that exchange (`GraftPlans.clusteredAggregate`),
    * so each input split ships its distinct rows with their counts, not
    * every row; the final aggregate above the exchange adds up the
    * counts. With dedup off, the repartitioned input with `__dq_n = 1`.
    */
  def grouped(df: DataFrame, cfg: EtlConfig, clusterBy: Column, width: Int): DataFrame =
    if (cfg.dataQuality.removeDuplicates)
      GraftPlans.clusteredAggregate(df, Seq(clusterBy), width,
        df.columns.toSeq.map(col), Seq(count(lit(1)).as(N)))
    else grouped(df.repartition(width, clusterBy), cfg)

  /** The rows that pass every enabled filter, one per group. Every
    * predicate is row-local, so a group passes if and only if its rows
    * pass: the same rows as filter → `dropDuplicates` → filter.
    */
  def keep(g: DataFrame, cfg: EtlConfig): DataFrame = {
    val (f1, f2, f4) = predicates(cfg)
    g.filter(f1 && f2 && f4).drop(N)
  }

  /** Sequential-delta counters in ONE global aggregate over [[grouped]].
    * Order matters: the null-material filter runs before the type
    * whitelist, so a row failing both counts against null-material only
    * (same double-count semantics as the reference's eager counts).
    *
    * The row counters are `sum(__dq_n)` over the groups that pass, and
    * each distinct counter (`filter(pred).dropDuplicates().count()`) is
    * the number of groups that pass; without dedup every group is one
    * row, so the two coincide and `removedDuplicates` is 0. Every
    * `sum(...)` is coalesced to 0 — over an empty relation sum() is NULL
    * and getLong would NPE (the r17 empty-input edge).
    */
  def counters(g: DataFrame, cfg: EtlConfig): QualityMetrics = {
    val (f1, f2, f4) = predicates(cfg)
    def cnt(pred: Column, weight: Column = col(N)): Column = coalesce(
      sum(when(pred, weight).otherwise(0L)), lit(0L))

    val row = g.agg(
      cnt(lit(true)).as("n_input"),
      cnt(!f1).as("n_f1_removed"),
      cnt(f1 && !f2).as("n_f2_removed"),
      cnt(f1 && f2).as("n_after_f2"),
      cnt(f1 && f2, lit(1L)).as("n_distinct"),
      cnt(f1 && f2 && f4, lit(1L)).as("n_after_country"))
      .head()
    QualityMetrics(
      inputRows = row.getLong(0),
      removedNullMaterial = row.getLong(1),
      removedInvalidType = row.getLong(2),
      removedDuplicates = row.getLong(3) - row.getLong(4),
      removedInvalidCountry = row.getLong(4) - row.getLong(5))
  }

  /** The filtered rows of `df`. Pure `DataFrame => DataFrame`; callers
    * that don't need counters pay zero extra jobs.
    */
  def apply(df: DataFrame, cfg: EtlConfig): DataFrame = keep(grouped(df, cfg), cfg)

  /** The quality counters of `df`, in one job. */
  def metrics(df: DataFrame, cfg: EtlConfig): QualityMetrics = counters(grouped(df, cfg), cfg)
}

/** F5/F6 — parameterized filters (`/root/reference/src/etl_entregas.py:184-208`).
  * Date range stays a plain string comparison: YYYYMMDD sorts
  * lexicographically = chronologically, and malformed dates keep the
  * reference's semantics instead of becoming nulls.
  */
object Filters {
  def apply(df: DataFrame, filters: FiltersConfig): DataFrame = {
    val ranged = df.filter(
      col("fecha_proceso") >= lit(filters.startDate) &&
        col("fecha_proceso") <= lit(filters.endDate))
    filters.country match {
      case Some(c) => ranged.filter(upper(col("pais")) === c.toUpperCase)
      case None => ranged
    }
  }
}

/** T1–T21 — the derived-column stage
  * (`/root/reference/src/etl_entregas.py:213-391`). One `select` — a single
  * Catalyst Project the whole-stage codegen fuses with the scan; every
  * expression is a builtin, no UDFs.
  */
object Transform {

  def apply(df: DataFrame, cfg: EtlConfig): DataFrame = {
    val rules = cfg.businessRules
    val csFactor = rules.unitsConversion.getOrElse("CS", 20.0d)
    val stFactor = rules.unitsConversion.getOrElse("ST", 1.0d)

    // T1 — string → double casts (0E-18 parses to 0.0 under double
    // semantics, matching the reference's DoubleType cast).
    val precio = col("precio").cast(DoubleType)
    val cantidad = col("cantidad").cast(DoubleType)

    // T2 — unit conversion by CASE over `unidad`.
    val cantidadUnidades =
      when(col("unidad") === "CS", cantidad * lit(csFactor))
        .when(col("unidad") === "ST", cantidad * lit(stFactor))
        .otherwise(cantidad)

    // T3/T4/T5 — delivery-type classification + flags.
    val esRutina = col("tipo_entrega").isin(rules.routineTypes: _*)
    val esBono = col("tipo_entrega").isin(rules.bonusTypes: _*)
    val categoria =
      when(esRutina, "RUTINA").when(esBono, "BONIFICACION").otherwise("OTRO")

    // T7 — literal-map country-name lookup; null when absent, exactly the
    // reference's create_map semantics.
    val countryMap = typedLit(cfg.countryNames)
    val nombrePais = countryMap(upper(col("pais")))

    // T13/T14 — date parsed once, consumed by the calendar columns; the
    // temp column never materializes (single Project).
    val fechaDate = to_date(col("fecha_proceso"), "yyyyMMdd")
    val diaSemana = dayofweek(fechaDate) // 1=Sunday … 7=Saturday
    val nombreDia = when(diaSemana === 1, "Domingo")
      .when(diaSemana === 2, "Lunes")
      .when(diaSemana === 3, "Martes")
      .when(diaSemana === 4, "Miércoles")
      .when(diaSemana === 5, "Jueves")
      .when(diaSemana === 6, "Viernes")
      .otherwise("Sábado")

    val diaProceso = substring(col("fecha_proceso"), 7, 2).cast(IntegerType)

    df.select(
      col("pais"), col("fecha_proceso"), col("transporte"), col("ruta"),
      col("tipo_entrega"), col("material"),
      precio.as("precio"),
      cantidad.as("cantidad"),
      col("unidad"),
      cantidadUnidades.as("cantidad_unidades"),
      categoria.as("categoria_entrega"),
      when(esRutina, true).otherwise(false).as("es_entrega_rutina"),
      when(esBono, true).otherwise(false).as("es_entrega_bonificacion"),
      round(precio * cantidadUnidades, 2).as("precio_total"),
      nombrePais.as("nombre_pais"),
      current_timestamp().as("fecha_procesamiento_etl"),
      when(cantidadUnidades > 0, round(precio / cantidadUnidades, 4))
        .otherwise(0.0d).as("precio_por_unidad"),
      when(precio === 0, true).otherwise(false).as("es_bonificacion_gratuita"),
      substring(col("fecha_proceso"), 1, 4).cast(IntegerType).as("anio_proceso"),
      substring(col("fecha_proceso"), 5, 2).cast(IntegerType).as("mes_proceso"),
      diaProceso.as("dia_proceso"),
      diaSemana.as("dia_semana"),
      nombreDia.as("nombre_dia_semana"),
      weekofyear(fechaDate).as("semana_del_anio"),
      quarter(fechaDate).as("trimestre"),
      when(diaProceso <= 10, "INICIO_MES")
        .when(diaProceso >= 21, "FIN_MES")
        .otherwise("MEDIADOS_MES").as("periodo_mes"),
      when(cantidadUnidades <= 20, "BAJO")
        .when(cantidadUnidades <= 100, "MEDIO")
        .when(cantidadUnidades <= 500, "ALTO")
        .otherwise("MUY_ALTO").as("rango_volumen"),
      when(round(precio * cantidadUnidades, 2) > 1000, true).otherwise(false)
        .as("es_alto_valor"),
      when(col("ruta").isNotNull, substring(col("ruta"), 1, 2))
        .otherwise("ND").as("codigo_region"))
  }
}

/** R1/R2 — rename + 28-column ordered contract
  * (`/root/reference/src/etl_entregas.py:393-461`).
  */
object Standardize {
  def apply(df: DataFrame, cfg: EtlConfig): DataFrame = {
    val renames = cfg.columnMapping.filter { case (o, n) => o != n }.toMap
    val renamed = df.withColumnsRenamed(renames)
    val existing = Schemas.outputColumns.filter(renamed.columns.contains)
    renamed.select(existing.map(col): _*)
  }
}

/** S3 — partitioned CSV sink. Replaces the reference's per-date driver
  * collect loop (`/root/reference/src/etl_entregas.py:469-518`, a
  * `toPandas()` per partition!) with Spark's native partitioned write:
  * one distributed job, same `fecha_proceso=YYYYMMDD/` directory layout,
  * no data through the driver — the design that survives 100 TB.
  */
object Load {

  /** Job-group prefix of the concurrent counts job; each call appends a
    * unique suffix, so cancelling one load never touches another.
    */
  val CountsGroupPrefix = "graft.etl.load.counts."

  /** How long the counts job may outlast the write, or wind down after
    * the write failed, before `Load` gives up on it.
    */
  val CountsTimeout: FiniteDuration = 30.minutes

  /** Writes and returns per-partition row counts (the reference's
    * `partitions_created` metric), computed as one aggregate.
    *
    * `format`: `csv` (reference-parity, default) or `parquet` — at scale
    * parquet is the right sink (columnar, splittable, statistics for
    * downstream pruning); the directory layout is identical.
    *
    * The counts aggregate is submitted CONCURRENTLY with the write
    * (guide §2.6 — actions are only sequential because the driver calls
    * them sequentially): neither depends on the other, and the counts job
    * back-fills cores the write's tail leaves idle. Values are
    * unchanged — the aggregate reads the DataFrame, not the sink.
    *
    * In `EntregasEtl.run()` both jobs read one cached upstream,
    * `DataQuality.grouped`: the deduplicated input, hash-partitioned by
    * `fecha_proceso` by the run's one exchange, below which each scan
    * split has already combined its duplicate rows. The write gets one
    * file per date directory and the counts aggregate is already
    * clustered on its key, so neither job shuffles. A cache
    * hashed on all nine columns lost: Spark does not AQE-coalesce a
    * cached plan, so it kept `spark.sql.shuffle.partitions` partitions,
    * every task wrote every date, and the file count quadrupled. For the
    * same reason `run()` caps the cache's width at the scan's split
    * count. The trade-off: a hot date is one task's work.
    *
    * The write goes through [[NioLocalFileSystem]], selected by writer
    * options for this write only, so a host without native Hadoop does
    * not fork a `chmod` per created file and directory.
    *
    * Failure paths: the counts job runs in its own job group, on its own
    * thread, so no pooled thread keeps the group afterwards. If the
    * write throws, that group is cancelled (jobs already running and any
    * it has yet to submit), the counts job is given up to
    * `CountsTimeout` to wind down, and the write's exception is rethrown.
    * If the counts do not finish within `CountsTimeout` after a
    * successful write, the group is cancelled and a `TimeoutException`
    * names the output.
    */
  def apply(df: DataFrame, outputBase: String, format: String = "csv"): Map[String, Long] = {
    val writer = df.write
      .options(NioLocalFileSystem.WriterOptions)
      .partitionBy("fecha_proceso")
      .mode("overwrite")
    val doWrite: () => Unit = format match {
      case "csv" => () => writer.option("header", "true").csv(outputBase)
      case "parquet" => () => writer.parquet(outputBase)
      case other => throw new IllegalArgumentException(
        s"unsupported output format: $other (csv | parquet)")
    }
    val sc = df.sparkSession.sparkContext
    val group = CountsGroupPrefix + java.util.UUID.randomUUID()
    // A dedicated thread, not a pooled one: a thread started while the
    // group is set inherits it as a local property, and a pooled thread
    // (or one a pool spawns to compensate for a blocked worker) would
    // carry it into later, unrelated jobs, which the cancel below kills.
    val counts = Promise[Map[String, Long]]()
    val countsThread = new Thread(() =>
      try {
        sc.setJobGroup(group, s"ETL Load: partition counts for $outputBase",
          interruptOnCancel = true)
        counts.success(df.groupBy("fecha_proceso").agg(count(lit(1)).as("n"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .toMap)
      } catch { case t: Throwable => counts.failure(t) },
      "graft-etl-load-counts")
    countsThread.setDaemon(true)
    countsThread.start()
    val countsF = counts.future
    def cancelCounts(reason: String): Unit =
      sc.cancelJobGroupAndFutureJobs(group, reason)
    try doWrite()
    catch { case writeError: Throwable =>
      cancelCounts(s"the write to $outputBase failed")
      try Await.ready(countsF, CountsTimeout)
      catch { case t: TimeoutException => writeError.addSuppressed(t) }
      throw writeError
    }
    try Await.result(countsF, CountsTimeout)
    catch { case _: TimeoutException =>
      cancelCounts(s"counts for $outputBase exceeded $CountsTimeout")
      throw new TimeoutException(
        s"ETL Load: partition counts for $outputBase did not finish within " +
          s"$CountsTimeout of a completed write")
    }
  }
}
