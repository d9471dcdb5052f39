package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftPlans

/** Benchmark harness: one Spark process (`local[N]`) that sets up a
  * workload twice, runs timed passes for at least `--seconds` seconds
  * and `MinPasses` passes, checks every result, and prints one
  * JSON line. Started by
  * `perfbench/run.py`, which builds it, makes the query tables and
  * checks the query results.
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --root DIR --work DIR --data DIR --cpus N
  *
  * With `--trace 0` it prints the end-to-end metrics, from untraced
  * passes only. With `--trace 1` it interleaves untraced and traced
  * passes and prints the per-layer metrics; tracing overhead is the
  * difference of their median pass walls.
  */
object Harness {

  /** Set-ups per run; the reported `setup_s` is their median. The
    * first set-up also pays the JVM's class loading and JIT, so with two
    * the median is the mean of a cold and a warm set-up.
    */
  val SetupReps = 2
  /** Fewest untraced passes; a traced run makes at least one whole ABBA
    * cycle, two untraced and two traced passes.
    */
  val MinPasses = 1
  val MinTracedPasses = 2
  val EtlRows = 50000

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Files.createDirectories(Paths.get(args("work")))
    val root = Paths.get(args("root"))
    val cpus = args("cpus").toInt

    val wl: Workload = workload match {
      case "etl_bulk" => new EtlWorkload(root, work, seed, EtlRows)
      case "query_mix" => new QueryWorkload(Paths.get(args("data")), work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    var probe: Probe = null
    val setups = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val (_, sessionMs) = Workload.time {
        spark = session(work, cpus)
        probe = new Probe
        spark.sparkContext.addSparkListener(probe)
      }
      val (_, warmMs) = Workload.time(wl.warmUp(spark, first = rep == 1))
      System.err.println(f"[perfbench] set-up $rep: session ${sessionMs / 1e3}%.2f s, " +
        f"warm-up ${warmMs / 1e3}%.2f s")
      (sessionMs + warmMs) / 1e3
    }

    val tracer = new Tracer(spark.sparkContext)
    // each pass with its Spark work and the process's CPU seconds
    val untraced = scala.collection.mutable.ArrayBuffer.empty[(Pass, Work, Double)]
    val tracedPasses = scala.collection.mutable.ArrayBuffer.empty[(Pass, Work, Double)]
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val t0 = System.nanoTime()
    var index = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || untraced.size < MinPasses ||
        (traced && (untraced.size < MinTracedPasses || tracedPasses.size < MinTracedPasses))) {
      // untraced and traced passes in ABBA order, so that JIT warming
      // during the run does not favour either side
      val tracing = traced && (index % 4 == 1 || index % 4 == 2)
      GraftPlans.drainListenerBus(spark)
      val before = probe.total
      val cpu0 = os.getProcessCpuTime
      val pass = wl.pass(spark, probe, index, if (tracing) Some(tracer) else None)
      GraftPlans.drainListenerBus(spark)
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val work = probe.total - before
      (if (tracing) tracedPasses else untraced) += ((pass, work, cpuS))
      System.err.println(f"[perfbench] pass $index${if (tracing) " (traced)" else ""}: " +
        f"wall ${pass.wallS}%.3f s, tasks ${work.taskS}%.3f s, " +
        f"task CPU ${work.taskCpuS}%.3f s, process CPU $cpuS%.3f s")
      index += 1
    }
    val peakRssMb = peakRss() / 1024.0
    spark.stop()

    val all = (untraced ++ tracedPasses).map(_._1)
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(!_.ok)).sum
    import Metrics.median
    def med(f: ((Pass, Work, Double)) => Double) = median(untraced.map(f).toSeq)
    val opMs = untraced.flatMap(_._1.ops.map(_.ms)).toSeq
    System.err.println(f"[perfbench] $workload seed=$seed: ${untraced.size} untraced passes, " +
      f"${tracedPasses.size} traced, ${opMs.size} timed operations; " +
      f"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")

    // medians over the untraced passes
    val passLevel = Map(
      "wall_s" -> med(_._1.wallS),
      "input_rows_per_s" -> med { case (p, w, _) =>
        p.inputRows.getOrElse(w.inputRecords).toDouble / p.wallS },
      "task_s" -> med(_._2.taskS),
      "task_cpu_s" -> med(_._2.taskCpuS),
      "process_cpu_s" -> med(_._3),
      "shuffle_mb" -> med(_._2.shuffleMb))
    val values: Seq[(String, Double)] =
      if (!traced) {
        val e2e = passLevel ++ Map("setup_s" -> median(setups), "peak_rss_mb" -> peakRssMb)
        Metrics.endToEnd.map { case (k, _) => k -> e2e(k) }
      }
      else {
        val samples = tracedPasses.flatMap(_._1.layers)
        val keys = samples.flatMap(_.keys).distinct
        val layer = keys.map(k => k -> median(samples.flatMap(_.get(k)).toSeq)).toMap
        val runtime = Map(
          "spark.jobs" -> med(_._2.jobs.toDouble),
          "spark.stages" -> med(_._2.stages.toDouble),
          "spark.tasks" -> med(_._2.tasks.toDouble),
          "spark.scheduler_delay_s" -> med(_._2.schedulerDelayMs / 1e3),
          "spark.shuffle_fetch_wait_s" -> med(_._2.fetchWaitMs / 1e3),
          "spark.gc_s" -> med(_._2.gcMs / 1e3),
          "spark.spill_mb" -> med(_._2.spillBytes / 1e6),
          "spark.task_failures" -> med(_._2.taskFailures.toDouble))
        val derived = Map(
          "trace.overhead_s" ->
            (median(tracedPasses.map(_._1.wallS).toSeq) - med(_._1.wallS)),
          "failed_frac" -> failed.toDouble / attempted)
        Metrics.perLayer.map { case (k, _) =>
          k -> Seq(layer, passLevel, runtime, derived).flatMap(_.get(k)).headOption.getOrElse(0.0)
        }
      }

    if (traced) {
      val lines = tracer.spans.map(_.json).mkString("", "\n", "\n")
      Files.write(work.resolve("spans.jsonl"), lines.getBytes("UTF-8"))
    }
    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val metrics = values.map { case (k, v) =>
      s""""$k":{"value":${num(v)},"unit":"${units(k)}"}""" }.mkString("{", ",", "}")
    val perQuery = wl match {
      case q: QueryWorkload => Metrics.queries.map(n =>
        s""""$n":[${q.executions(n)},${q.throws(n)}]""").mkString("{", ",", "}")
      case _ => "{}"
    }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$metrics,"query_ops":$perQuery}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process in KiB (`VmHWM`). */
  private def peakRss(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble).getOrElse(0.0)
  }
}
