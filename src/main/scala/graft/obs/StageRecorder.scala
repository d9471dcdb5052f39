package graft.obs

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.GraftPlans
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed stage attempt, from its aggregated task metrics. Times
  * are milliseconds; `spillBytes` is the in-memory size of what spilled;
  * `maxTaskMs` is the slowest task's run time and `peakExecMemBytes` the
  * largest peak execution memory (sort, aggregation and join buffers) of
  * any one task.
  */
final case class StageRow(
    stageId: Int,
    name: String,
    tasks: Int,
    runMs: Long,
    cpuMs: Long,
    gcMs: Long,
    fetchWaitMs: Long,
    spillBytes: Long,
    shuffleWriteBytes: Long,
    maxTaskMs: Long,
    peakExecMemBytes: Long)

/** What [[StageRecorder.record]] saw while its body ran: the body's value,
  * its wall time, every stage that completed, every query execution
  * that finished (each carries its planning tracker and final plan), and
  * the host's forks meanwhile (`processes` in `/proc/stat`, which counts
  * new threads as well as new processes; None off Linux).
  */
final case class Recording[T](
    value: T,
    wallSec: Double,
    stages: Seq[StageRow],
    executions: Seq[QueryExecution],
    spawnedProcesses: Option[Long]) {
  def taskMs: Long = stages.map(_.runMs).sum
  def shuffleBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def maxTaskMs: Long = stages.map(_.maxTaskMs).foldLeft(0L)(math.max)
}

/** The one listener behind every stage-level number the measurement mains
  * report. It is registered only while the body runs, and the listener bus
  * is drained before reading, so late stage-completed events are counted
  * instead of lost.
  */
object StageRecorder {

  def record[T](spark: SparkSession)(body: => T): Recording[T] = {
    val completed = new ConcurrentLinkedQueue[StageRow]
    // per stage: (slowest task's run ms, largest task peak execution memory)
    val perTask = new ConcurrentHashMap[Int, (Long, Long)]
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val stageListener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          perTask.merge(te.stageId,
            (te.taskMetrics.executorRunTime, te.taskMetrics.peakExecutionMemory),
            (a, b) => (math.max(a._1, b._1), math.max(a._2, b._2)))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        completed.add(StageRow(
          stageId = si.stageId,
          name = si.name.takeWhile(_ != '\n').take(80),
          tasks = si.numTasks,
          runMs = tm.executorRunTime,
          cpuMs = tm.executorCpuTime / 1000000L,
          gcMs = tm.jvmGCTime,
          fetchWaitMs = tm.shuffleReadMetrics.fetchWaitTime,
          spillBytes = tm.memoryBytesSpilled,
          shuffleWriteBytes = tm.shuffleWriteMetrics.bytesWritten,
          maxTaskMs = 0L,
          peakExecMemBytes = 0L))
      }
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.listenerManager.register(queryListener)
    try {
      val forks0 = forkCount()
      val t0 = System.nanoTime()
      val value = body
      val wall = (System.nanoTime() - t0) / 1e9
      val spawned = for (a <- forks0; b <- forkCount()) yield b - a
      GraftPlans.drainListenerBus(spark)
      val stages = completed.asScala.toSeq.sortBy(_.stageId).map { s =>
        val (ms, peak) = Option(perTask.get(s.stageId)).getOrElse((0L, 0L))
        s.copy(maxTaskMs = ms, peakExecMemBytes = peak)
      }
      Recording(value, wall, stages, executions.asScala.toSeq, spawned)
    } finally {
      spark.listenerManager.unregister(queryListener)
      spark.sparkContext.removeSparkListener(stageListener)
    }
  }

  /** The host's forks since boot, or None where there is no `/proc/stat`. */
  private def forkCount(): Option[Long] =
    Try(Files.readAllLines(Paths.get("/proc/stat")).asScala
      .collectFirst { case l if l.startsWith("processes ") => l.drop(10).trim.toLong })
      .toOption.flatten
}
