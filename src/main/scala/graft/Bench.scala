package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs the headline (bench-flagged) queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is fully materialized through the `noop` sink — a bare
  * `count()` would let Catalyst prune away the computed columns and
  * time only the scan. `etl_reference_workload` is the reference repo's
  * own end-to-end job (379-row CSV → 123 rows, partitioned CSV sink),
  * directly comparable to BASELINE.md's 42s/87s wall clocks.
  *
  * Noise methodology (r11, after BENCH_r10's +46–291% uniform drift was
  * adjudicated as host noise — same-code min-of-3 runs on this host vary
  * up to ~2× even at load 0.03):
  *
  *  - Repetitions are INTERLEAVED round-robin across queries: one
  *    untimed warmup round (Janino codegen + JIT per plan), then
  *    `SPARK_GRAFT_BENCH_REPS` (default 5) timed rounds, each running
  *    every query once. A noise burst (GC storm, external contention)
  *    then lands on ONE rep of many queries instead of all reps of one
  *    query — per-query minima stay comparable.
  *  - Per rep, a listener sums executor task time; the reported
  *    `task_sec` (min over reps) and `shuffle_mb` are the PRIMARY
  *    cross-round drift metrics: task time degrades far less under host
  *    contention than wall-clock, and shuffle bytes are deterministic.
  *    Wall-clock minima remain the headline `queries` block but are
  *    advisory for cross-round comparison (see driftReport).
  *  - The 1-minute load average is sampled at start and end and recorded
  *    in the artifact (`load_avg_start/end`, `noisy` when either exceeds
  *    `SPARK_GRAFT_MAX_LOAD`, default 2.0) so a contaminated artifact
  *    carries its own evidence instead of poisoning the next round's
  *    baseline silently.
  *  - The drift guard diffs against `SPARK_GRAFT_PREV_BENCH` if set,
  *    else the artifact named in `bench/DRIFT_BASE` (the last CLEAN
  *    baseline, committed), else the newest BENCH_r*.json.
  */
object Bench {

  /** The reference ETL's name in the headline set. */
  val EtlWorkload = "etl_reference_workload"

  /** The headline workload names, in run order: the bench-flagged queries,
    * then the reference ETL; `only` narrows them.
    */
  def headline(only: Option[Set[String]] = None): Seq[String] =
    (GraftQuery.all.filter(_.bench).map(_.name) :+ EtlWorkload)
      .filter(n => only.forall(_.contains(n)))

  private lazy val programs = GraftQuery.all.map(q => q.name -> q).toMap

  /** Runs one workload by name: a query fully materialized through the
    * `noop` sink, or the reference ETL end to end into a fresh temp dir.
    */
  def run(spark: SparkSession, sfDir: String, name: String): Unit =
    if (name == EtlWorkload) {
      val out = Files.createTempDirectory("graft_bench_etl").toString
      val cfg = etl.ConfigLoader.load("config",
        env = Some("nonexistent"), overrides = Seq(s"paths.output_base=$out"))
      new etl.EntregasEtl(cfg, spark).run()
    } else {
      val q = programs.getOrElse(name, sys.error(s"no such query: $name"))
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache() // queries may cache internally; no leakage
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = obs.BenchSession.cpus("32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "2.0").toDouble
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // bounded idle-wait (VERDICT r11 #5): rather than stamping the
    // artifact `noisy` and carrying contaminated numbers for a round,
    // poll the 1-min load and start when the host quiets down — or give
    // up after SPARK_GRAFT_MAX_WAIT_SEC (default 300 s) and record that
    // the wait capped out. The artifact carries `waited_sec` either way.
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_MAX_WAIT_SEC", "300").toInt
    val waitStart = System.nanoTime()
    while (loadAvg > maxLoad &&
        (System.nanoTime() - waitStart) / 1e9 < maxWaitSec) {
      System.err.println(f"IDLE-WAIT: 1-min load $loadAvg%.2f > $maxLoad%.2f — " +
        "sleeping 15 s")
      Thread.sleep(15000)
    }
    val waitedSec = (System.nanoTime() - waitStart) / 1e9
    val loadStart = loadAvg
    if (loadStart > maxLoad)
      System.err.println(f"NOISY-HOST: 1-min load $loadStart%.2f > $maxLoad%.2f " +
        f"after a ${waitedSec}%.0f s idle-wait cap — wall-clock in this " +
        "artifact is not comparison-grade")
    val spark = obs.BenchSession("graft_bench", cpus)

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // warm the JVM + parquet footers so the first timed query doesn't
    // absorb one-time session costs
    Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
      .foreach(t => Tables.table(spark, sfDir, t).count())
    // count() reads only footers/row counts — pull the actual data pages
    // through the OS page cache too, so timed runs measure compute, not
    // first-touch disk latency (the per-round driver runs on a cold cache)
    Files.list(java.nio.file.Paths.get(sfDir)).forEach { p =>
      if (p.toString.endsWith(".parquet")) {
        val in = Files.newInputStream(p)
        val buf = new Array[Byte](1 << 20)
        try while (in.read(buf) != -1) () finally in.close()
      }
    }

    // optional comma-separated filter for single-query iteration
    // (e.g. SPARK_GRAFT_BENCH_ONLY=dd_jaccard_ppjoin); unset = all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = headline(only)

    // one measured execution: wall seconds + summed executor task time +
    // shuffle bytes written, all from the same run
    final case class Meas(wall: Double, taskSec: Double, shuffleMb: Double)
    def measure(body: => Unit): Meas = {
      val r = obs.StageRecorder.record(spark)(body)
      Meas(r.wallSec, r.taskMs / 1e3, r.shuffleBytes / 1e6)
    }

    // warmup round (pays per-plan Janino + JIT; recorded to stderr, never
    // reported), then `reps` timed rounds INTERLEAVED across queries
    val warm = names.map(n => n -> time(run(spark, sfDir, n))).toMap
    val samples = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Meas]](
      names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Meas]): _*)
    (1 to reps).foreach { r =>
      names.foreach { n => samples(n) += measure(run(spark, sfDir, n)) }
      System.err.println(s"ROUND $r/$reps done (load ${f"$loadAvg%.2f"})")
    }
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val taskSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val shuffleMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      val ms = samples(n)
      results(n) = ms.map(_.wall).min
      taskSec(n) = ms.map(_.taskSec).min
      shuffleMb(n) = ms.map(_.shuffleMb).max // deterministic; max rides out listener races
      System.err.println(f"RUNS $n: [${warm(n)}%.3f] " +
        ms.map(m => f"${m.wall}%.3f").mkString(" ") +
        f" task=${taskSec(n)}%.2fs shuffle=${shuffleMb(n)}%.1fMB")
    }

    // cross-round drift guard — see driftReport
    driftReport(results, taskSec, shuffleMb)

    // `noisy` keys off the START load only: the end sample always carries
    // the bench's own 32 task threads (self-load), so it is recorded for
    // context but can't condemn the artifact by itself
    val loadEnd = loadAvg
    val noisy = loadStart > maxLoad
    def block(m: collection.Map[String, Double], fmt: Double => String): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qs = block(results, _.toString)
    val ts = block(taskSec, v => f"$v%.3f")
    val sh = block(shuffleMb, v => f"$v%.1f")
    println(s"""{"metric":"total","value":${results.values.sum},"unit":"sec","queries":$qs,"task_sec":$ts,"shuffle_mb":$sh,"reps":$reps,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"noisy":$noisy,"waited_sec":${f"$waitedSec%.0f"},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Compare this run against the last CLEAN baseline artifact —
    * `SPARK_GRAFT_PREV_BENCH` if set, else the filename committed in
    * `bench/DRIFT_BASE`, else the newest BENCH_r*.json — and report
    * per-query drift >25%. Primary metrics: summed executor task time
    * (when the baseline carries a `task_sec` block) and shuffle bytes
    * (above a 1 MB floor; a query whose baseline had ZERO shuffle but
    * now shuffles is reported explicitly — that's a broadcast plan
    * quietly reverting, the exact scenario the guard exists for).
    * Wall-clock drift is reported as advisory (`DRIFT-WALL`): this
    * host's same-code variance reaches ~2× on sub-second queries.
    * Purely advisory — never fails the run.
    */
  private def driftReport(results: collection.Map[String, Double],
      taskSec: collection.Map[String, Double],
      shuffleMb: collection.Map[String, Double]): Unit = try {
    val repo = java.nio.file.Paths.get("").toAbsolutePath
    val prev = sys.env.get("SPARK_GRAFT_PREV_BENCH").map(java.nio.file.Paths.get(_))
      .orElse {
        val base = repo.resolve("bench/DRIFT_BASE")
        if (Files.exists(base))
          Some(repo.resolve(new String(Files.readAllBytes(base), "UTF-8").trim))
        else None
      }
      .orElse {
        val rx = "BENCH_r(\\d+)\\.json".r
        import scala.jdk.CollectionConverters._
        Files.list(repo).iterator.asScala
          .flatMap(p => rx.findFirstMatchIn(p.getFileName.toString).map(m => (m.group(1).toInt, p)))
          .toSeq.sortBy(-_._1).headOption.map(_._2)
      }
    prev.filter(Files.exists(_)).foreach { p0 =>
      // a dead round's artifact (rc!=0, parsed:null — e.g. BENCH_r07)
      // carries no queries block; fall back to the newest one that does,
      // so the guard diffs against the last MEANINGFUL baseline
      val candidates = p0 +: {
        val rx = "BENCH_r(\\d+)\\.json".r
        import scala.jdk.CollectionConverters._
        Files.list(repo).iterator.asScala
          .flatMap(q => rx.findFirstMatchIn(q.getFileName.toString).map(m => (m.group(1).toInt, q)))
          .toSeq.sortBy(-_._1).map(_._2).filterNot(_ == p0)
      }
      val pair = "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.eE+-]+)".r
      def block(text: String, key: String): Map[String, Double] =
        (s""""$key"\\s*:\\s*\\{([^}]*)\\}""").r.findFirstMatchIn(text)
          // the file nests the maps twice (raw line + parsed echo);
          // first occurrence is enough for a guard
          .map(m => pair.findAllMatchIn(m.group(1))
            .map(g => g.group(1) -> g.group(2).toDouble).toMap)
          .getOrElse(Map.empty)
      val withQueries = candidates.iterator.map { q =>
        val text = new String(Files.readAllBytes(q), "UTF-8")
        (q, block(text, "queries"), block(text, "shuffle_mb"), block(text, "task_sec"))
      }.find(_._2.nonEmpty)
      val p = withQueries.map(_._1).getOrElse(p0)
      val old = withQueries.map(_._2).getOrElse(Map.empty[String, Double])
      val oldShuffle = withQueries.map(_._3).getOrElse(Map.empty[String, Double])
      val oldTask = withQueries.map(_._4).getOrElse(Map.empty[String, Double])
      def report(tag: String, now: collection.Map[String, Double],
          was: Map[String, Double], unit: String): Unit =
        now.foreach { case (name, v) =>
          was.get(name).foreach { w =>
            val delta = (v - w) / w
            if (math.abs(delta) > 0.25)
              System.err.println(f"$tag $name: $w%.3f$unit -> $v%.3f$unit (${delta * 100}%+.0f%% vs ${p.getFileName})")
          }
        }
      // primary: task time (contention-resistant) — only when the
      // baseline artifact carries it (r11+)
      if (oldTask.nonEmpty) report("DRIFT-TASK", taskSec, oldTask, "s")
      report("DRIFT-WALL", results, old, "s")
      shuffleMb.foreach { case (name, now) =>
        oldShuffle.get(name) match {
          case Some(was) if was > 1.0 =>
            val delta = (now - was) / was
            if (math.abs(delta) > 0.25)
              System.err.println(f"DRIFT-SHUFFLE $name: $was%.1fMB -> $now%.1fMB (${delta * 100}%+.0f%% vs ${p.getFileName})")
          case Some(was) if now > 1.0 =>
            // baseline had (effectively) zero shuffle: a broadcast plan
            // regressing to a real shuffle must be flagged, not divided by 0
            System.err.println(f"DRIFT-SHUFFLE $name: $was%.1fMB -> $now%.1fMB (new shuffle vs ${p.getFileName})")
          case _ => ()
        }
      }
      results.keys.filterNot(old.contains)
        .foreach(n => System.err.println(s"DRIFT $n: new this round (no baseline in ${p.getFileName})"))
    }
  } catch { case e: Exception => System.err.println(s"DRIFT guard skipped: $e") }
}
