package graft

import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.FormattedMode

import graft.obs.{BenchSession, PlanWalk, Recording, StageRecorder}

/** Explains where a workload's time and bytes go, in Bench's session:
  *
  *   runMain graft.Profile <query|etl_reference_workload|all> [sfDir] [reps] [planOutDir]
  *   runMain graft.Profile <scale|scale_<workload>> <nDocs> [reps]
  *
  * `sfDir` defaults to `$SPARK_GRAFT_SF_DIR`. `all` is Bench's headline set. Each workload runs once untimed (codegen
  * and JIT), then `reps` times (default 3) through the same runner Bench
  * times. For each workload it prints one JSON line: the wall time, task
  * time and shuffle bytes of every rep, the host's forks over the reps
  * (`spawned_processes`: processes and threads, omitted off Linux; a
  * process per written file shows here), and for the last rep the planning
  * phase times, the stage table and the per-operator SQL metrics of the
  * final plan. With `planOutDir`, the final plan's `explain("formatted")`
  * text goes to `<planOutDir>/<name>.txt`.
  *
  * `scale` runs every [[ScaleWorkloads]] workload over an `nDocs`-document
  * synthetic corpus, `scale_<workload>` one of them; each rep (default 1)
  * is a fresh session, and there is no untimed run: a scale workload is
  * long enough to amortize codegen. Its line carries `n_docs` instead of
  * `sf` and ends with the workload's `results`.
  */
object Profile {

  /** The four planning phases a query execution's tracker times. */
  val Phases: Seq[String] = Seq(QueryPlanningTracker.PARSING,
    QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
    QueryPlanningTracker.PLANNING)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Profile <query|etl_reference_workload|all> [sfDir] [reps] [planOutDir]" +
        " | <scale|scale_<workload>> <nDocs> [reps]")
    if (args(0).startsWith("scale")) scale(args) else queries(args)
  }

  private def scale(args: Array[String]): Unit = {
    val workloads =
      if (args(0) == "scale") ScaleWorkloads.all
      else Seq(ScaleWorkloads.named(args(0).stripPrefix("scale_")))
    val nDocs = args.lift(1).map(_.toLong).getOrElse(sys.error("name the corpus size: <nDocs>"))
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = BenchSession("graft_profile", BenchSession.cpus("32"))
    workloads.foreach { w =>
      System.err.println(s"[scale] start ${w.name}")
      val recs = profile(reps, warmup = false)(ScaleWorkloads.record(spark, w, nDocs))
      println(scaleJson(w.name, nDocs, recs))
    }
    spark.stop()
  }

  private def queries(args: Array[String]): Unit = {
    val names = if (args(0) == "all") Bench.headline() else Seq(args(0))
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("name the scale-factor dir: [sfDir] or $SPARK_GRAFT_SF_DIR"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val planOut = args.lift(3)
    val spark = BenchSession("graft_profile", BenchSession.cpus("32"))
    names.foreach { name =>
      val recs = profile(spark, sfDir, name, reps)
      println(toJson(name, sfDir, recs))
      planOut.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"$name.txt"), explain(recs.last))
      }
    }
    spark.stop()
  }

  /** One untimed warm-up run, then `reps` recorded runs. */
  def profile(spark: SparkSession, sfDir: String, name: String, reps: Int): Seq[Recording[Unit]] =
    profile(reps, warmup = true)(StageRecorder.record(spark)(Bench.run(spark, sfDir, name)))

  /** `reps` recorded runs, after one discarded run when `warmup`. */
  def profile[T](reps: Int, warmup: Boolean)(run: => Recording[T]): Seq[Recording[T]] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    if (warmup) run
    (1 to reps).map(_ => run)
  }

  /** Planning time per phase in ms, summed over the run's trackers (a
    * write shares its DataFrame's tracker, so construction-time analysis
    * counts too); a phase no execution went through (parsing, for a
    * DataFrame program) reports 0.
    */
  def phasesMs(rec: Recording[_]): Seq[(String, Long)] = {
    val trackers = rec.executions.map(_.tracker).distinct
    Phases.map(ph => ph -> trackers.flatMap(_.phases.get(ph)).map(_.durationMs).sum)
  }

  /** The formatted explain of every execution in the run, in order. */
  def explain(rec: Recording[_]): String =
    rec.executions.map(_.explainString(FormattedMode)).mkString("\n")

  def toJson(name: String, sfDir: String, recs: Seq[Recording[_]]): String =
    render(Seq("query" -> name, "sf" -> sfDir), recs)

  /** A scale workload's line: the last rep's results follow the stage
    * table and operators.
    */
  def scaleJson(name: String, nDocs: Long, recs: Seq[Recording[ScaleWorkloads.Results]]): String =
    render(Seq("query" -> s"scale_$name", "n_docs" -> nDocs), recs,
      Seq("results" -> obj(recs.last.value.map {
        case (k, v: Seq[_]) => k -> v.asJava
        case kv => kv
      }: _*)))

  private def obj(kvs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `head` (the workload's name and input), the measurements, then `tail`. */
  private def render(head: Seq[(String, Any)], recs: Seq[Recording[_]],
      tail: Seq[(String, Any)] = Nil): String = {
    val last = recs.last
    val stages = last.stages.map(s => obj(
      "stage" -> s.stageId, "name" -> s.name, "tasks" -> s.tasks,
      "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs,
      "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes, "max_task_ms" -> s.maxTaskMs,
      "peak_exec_mem_bytes" -> s.peakExecMemBytes))
    val operators = last.executions.flatMap(qe => PlanWalk.operators(qe.executedPlan))
      .map(o => obj("depth" -> o.depth, "node" -> o.node,
        "metrics" -> obj(o.metrics: _*)))
    val json = obj(head ++ Seq(
      "wall_s" -> recs.map(_.wallSec).asJava,
      "task_ms" -> recs.map(_.taskMs).asJava,
      "shuffle_bytes" -> recs.map(_.shuffleBytes).asJava,
      "phases_ms" -> obj(phasesMs(last): _*),
      "stages" -> stages.asJava,
      "operators" -> operators.asJava): _*)
    val spawned = recs.map(_.spawnedProcesses)
    if (spawned.forall(_.isDefined)) json.put("spawned_processes", spawned.flatten.sum)
    tail.foreach { case (k, v) => json.put(k, v) }
    new ObjectMapper().writeValueAsString(json)
  }
}
