package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.etl.{ConfigLoader, EntregasEtl, Load, QualityMetrics}

/** One operation's wall time and whether its output was right. */
final case class Op(ms: Double, ok: Boolean)

/** One timed pass. `inputRows` is None when the rows read are taken
  * from the executors' input metrics instead. `layers` holds, for a
  * traced pass, one sample map per operation plus per-pass sums.
  */
final case class Pass(ops: Seq[Op], inputRows: Option[Long],
    layers: Seq[Map[String, Double]] = Nil) {
  def wallS: Double = ops.map(_.ms).sum / 1e3
}

trait Workload {
  /** The untimed warm-up of one set-up; `first` is set on the first. */
  def warmUp(spark: SparkSession, first: Boolean): Unit
  def pass(spark: SparkSession, probe: Probe, index: Int, tracer: Option[Tracer]): Pass
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def failure(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: ${e.toString.take(400)}")
}

/** Full ETL runs, one per pass, over one generated deliveries input of
  * `rows` rows in `DeliveriesGen.InputFiles` CSV files, each run checked
  * against the generator's row-loop result.
  */
final class EtlWorkload(root: Path, work: Path, seed: Long, rows: Int) extends Workload {
  import Workload._

  private val configDir = root.resolve("config").toString
  private val input = work.resolve("deliveries")
  private val outDir = work.resolve("out")

  // generated before set-up starts, so set-up time excludes it
  private val expected: EtlExpected = {
    val data = DeliveriesGen.rows(seed, rows)
    DeliveriesGen.write(input, data)
    DeliveriesGen.expected(data)
  }

  private def loadConfig() = ConfigLoader.load(configDir, env = Some("benchmark"),
    overrides = Seq(
      s"paths.input_file=$input",
      s"paths.output_base=$outDir",
      s"filters.start_date=${DeliveriesGen.startDate}",
      s"filters.end_date=${DeliveriesGen.endDate}"))

  /** Row counts per `fecha_proceso=` directory of the written CSV sink. */
  private def written(): Map[String, Long] =
    Files.list(outDir).iterator.asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("fecha_proceso="))
      .map { dir =>
        val files = Files.list(dir).iterator.asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".csv"))
        val lines = files.map(f => Files.lines(f).filter(!_.isEmpty).count()).sum
        dir.getFileName.toString.stripPrefix("fecha_proceso=") -> (lines - files.size)
      }.toMap

  private def outputFiles(): Seq[Path] =
    Files.walk(outDir).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))

  private def check(q: QualityMetrics, partitions: Map[String, Long], finalRows: Long): Boolean = {
    val e = expected
    val ok = q.inputRows == e.inputRows && q.removedNullMaterial == e.removedNullMaterial &&
      q.removedInvalidType == e.removedInvalidType &&
      q.removedDuplicates == e.removedDuplicates &&
      q.removedInvalidCountry == e.removedInvalidCountry &&
      finalRows == e.finalRows && partitions == e.partitions && written() == e.partitions
    if (!ok) {
      val counters = (e.inputRows, e.removedNullMaterial, e.removedInvalidType,
        e.removedDuplicates, e.removedInvalidCountry)
      System.err.println(s"[perfbench] ETL result mismatch: got $q, $finalRows rows in " +
        s"${partitions.size} partitions (${written().size} written); expected counters " +
        s"$counters, ${e.finalRows} rows in ${e.partitions.size} partitions")
    }
    ok
  }

  /** What a user runs: load the config, then `EntregasEtl.run()`. */
  private def runOnce(spark: SparkSession): Op = {
    val (metrics, ms) = time {
      try Some(new EntregasEtl(loadConfig(), spark).run())
      catch { case NonFatal(e) => failure("ETL run", e); None }
    }
    Op(ms, metrics.exists(m => check(m.quality, m.partitionsCreated, m.finalRows)))
  }

  /** The same run, rebuilt from the stage functions `run()` calls, with
    * a span around each. Materializing the cached extract in its own
    * span adds one count job, which the tracing overhead includes.
    */
  private def runTraced(spark: SparkSession, probe: Probe,
      trace: Tracer): (Op, Map[String, Double]) = {
    val (res, ms) = time {
      try Some(trace("etl.run") {
        val cfg = trace("etl.config_load")(loadConfig())
        val etl = new EntregasEtl(cfg, spark)
        val raw = trace("etl.extract") { val df = etl.extract().cache(); df.count(); df }
        try {
          val quality = trace("etl.dq_metrics")(etl.qualityMetrics(raw))
          val output = trace("etl.plan") {
            val cleaned = trace("etl.data_quality")(etl.applyDataQuality(raw))
            val filtered = trace("etl.filters")(etl.applyFilters(cleaned))
            val transformed = trace("etl.transform")(etl.transform(filtered))
            trace("etl.standardize")(etl.standardize(transformed))
          }
          val partitions = trace("etl.load")(
            Load(output, cfg.paths.outputBase, cfg.paths.outputFormat))
          (quality, partitions)
        } finally raw.unpersist()
      }) catch { case NonFatal(e) => failure("traced ETL run", e); None }
    }
    res match {
      case None => (Op(ms, ok = false), Map.empty)
      case Some((quality, partitions)) =>
        org.apache.spark.sql.graft.GraftPlans.drainListenerBus(spark)
        val stages = Seq("config_load", "extract", "dq_metrics", "plan", "load")
        val span = ("run" +: stages)
          .map(n => n -> trace.spans.findLast(_.name == s"etl.$n").get).toMap
        def work(name: String) = probe.between(span(name).startMs, span(name).endMs)
        val (extract, dq, load) = (work("extract"), work("dq_metrics"), work("load"))
        val files = outputFiles()
        val finalRows = partitions.values.sum
        val layers = Map(
          "etl.config_load_s" -> span("config_load").seconds,
          "etl.plan_s" -> span("plan").seconds,
          "etl.extract_s" -> span("extract").seconds,
          "etl.extract_task_s" -> extract.taskS,
          "etl.extract_input_mb" -> extract.inputBytes / 1e6,
          "etl.dq_metrics_s" -> span("dq_metrics").seconds,
          "etl.dq_metrics_task_s" -> dq.taskS,
          "etl.dq_metrics_shuffle_mb" -> dq.shuffleMb,
          "etl.load_s" -> span("load").seconds,
          "etl.load_task_s" -> load.taskS,
          "etl.load_shuffle_mb" -> load.shuffleMb,
          "etl.load_jobs" -> load.jobs.toDouble,
          "etl.load_files" -> files.size.toDouble,
          "etl.load_output_mb" -> files.map(Files.size(_)).sum / 1e6,
          "etl.rows_out_ratio" -> finalRows.toDouble / rows,
          // the part of this run's wall that no stage span covers
          "etl.unaccounted_s" -> (span("run").seconds - stages.map(span(_).seconds).sum))
        (Op(ms, check(quality, partitions, finalRows)), layers)
    }
  }

  /** One run: the first run in a new session is much slower than the
    * ones after it; the second is already as fast as a timed pass.
    */
  def warmUp(spark: SparkSession, first: Boolean): Unit = runOnce(spark)

  def pass(spark: SparkSession, probe: Probe, index: Int, tracer: Option[Tracer]): Pass =
    tracer match {
      case None => Pass(Seq(runOnce(spark)), Some(rows.toLong))
      case Some(t) =>
        t.runId += 1
        val (op, layers) = runTraced(spark, probe, t)
        Pass(Seq(op), Some(rows.toLong), Seq(layers).filter(_.nonEmpty))
    }
}

/** The engine's headline query programs over fixed generated tables,
  * each result drained through the `noop` sink, in an order the seed
  * shuffles per pass.
  */
final class QueryWorkload(dataDir: Path, work: Path, seed: Long) extends Workload {
  import Workload._

  private lazy val programs = graft.GraftQuery.all.map(q => q.name -> q).toMap
  private val qout = work.resolve("qout")

  /** Timed executions and failures per query, for the output check. */
  val executions = scala.collection.mutable.LinkedHashMap(Metrics.queries.map(_ -> 0): _*)
  val throws = scala.collection.mutable.LinkedHashMap(Metrics.queries.map(_ -> 0): _*)

  private def order(index: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + index).shuffle(Metrics.queries)

  /** Reading every table file once puts the inputs in the page cache. */
  private def primeCache(): Unit =
    Files.walk(dataDir).iterator.asScala.filter(Files.isRegularFile(_))
      .foreach(p => Files.readAllBytes(p))

  private def execute(spark: SparkSession, name: String, sink: String): Boolean =
    try {
      val df = programs(name).fn(spark, dataDir.toString)
      if (sink == "noop") df.write.format("noop").mode("overwrite").save()
      else df.write.mode("overwrite").parquet(qout.resolve(name).toString)
      true
    } catch { case NonFatal(e) => failure(s"query $name", e); false }
    finally spark.catalog.clearCache()

  /** The first set-up writes every result as parquet for the output
    * check; later set-ups and all timed passes use the `noop` sink.
    */
  def warmUp(spark: SparkSession, first: Boolean): Unit = {
    primeCache()
    order(-1).foreach(q => execute(spark, q, if (first) "parquet" else "noop"))
  }

  def pass(spark: SparkSession, probe: Probe, index: Int, tracer: Option[Tracer]): Pass = {
    val results = order(index).map { q =>
      val (op, layers) = tracer match {
        case None =>
          val (ok, ms) = time(execute(spark, q, "noop"))
          (Op(ms, ok), Map.empty[String, Double])
        case Some(t) =>
          t.runId += 1
          val (ok, ms) = time {
            try t(s"query.$q") {
              val df = t("plan") {
                val d = programs(q).fn(spark, dataDir.toString)
                d.queryExecution.executedPlan
                d
              }
              t("execute")(df.write.format("noop").mode("overwrite").save())
              true
            } catch { case NonFatal(e) => failure(s"traced query $q", e); false }
            finally spark.catalog.clearCache()
          }
          org.apache.spark.sql.graft.GraftPlans.drainListenerBus(spark)
          val span = t.spans.findLast(_.name == s"query.$q").get
          val plan = t.spans.findLast(s => s.name == "plan" && s.parent == span.id)
          val w = probe.between(span.startMs, span.endMs)
          (Op(ms, ok), Map(
            s"query.$q.s" -> span.seconds,
            s"query.$q.task_s" -> w.taskS,
            s"query.$q.shuffle_mb" -> w.shuffleMb,
            s"queries.${Metrics.queryGroups.toMap.apply(q)}.plan_s" ->
              plan.map(_.seconds).getOrElse(0.0)))
      }
      executions(q) += 1
      if (!op.ok) throws(q) += 1
      (op, layers)
    }
    // a group's plan time is the sum over its queries within the pass
    val layers =
      if (tracer.isEmpty) Nil
      else results.map(_._2.filterNot(_._1.startsWith("queries."))) :+
        results.flatMap(_._2.filter(_._1.startsWith("queries.")))
          .groupMapReduce(_._1)(_._2)(_ + _)
    Pass(results.map(_._1), None, layers)
  }
}
