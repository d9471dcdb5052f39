package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Executor-side work of a set of stages, summed from task-end events. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskFailures: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, schedulerDelayMs: Long = 0,
    fetchWaitMs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskFailures + o.taskFailures, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    schedulerDelayMs + o.schedulerDelayMs, fetchWaitMs + o.fetchWaitMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, inputRecords + o.inputRecords)
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskFailures - o.taskFailures, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    schedulerDelayMs - o.schedulerDelayMs, fetchWaitMs - o.fetchWaitMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords)
  def taskS: Double = runMs / 1e3
  def taskCpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = shuffleWriteBytes / 1e6
}

/** Listener that keeps every job's and stage's work, keyed by the
  * wall-clock time the job or stage was submitted. Untraced passes read
  * only the running total; traced passes also sum the stages submitted
  * inside a span, which attributes work to the benchmark's calls without
  * relying on thread-local job groups (the ETL sink submits one of its
  * jobs from a pooled thread).
  */
final class Probe extends SparkListener {
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val stageWork = mutable.HashMap.empty[Int, Work]
  private val jobMs = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobMs += e.time }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageWork(id) = stageWork.getOrElse(id, Work()) + Work(stages = 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val w =
      if (m == null) Work(tasks = 1, taskFailures = 1)
      else {
        // Spark's own definition (StagePage.getSchedulerDelay)
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        Work(tasks = 1, taskFailures = if (e.reason == Success) 0 else 1,
          runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime, schedulerDelayMs = delay,
          fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.diskBytesSpilled, inputBytes = m.inputMetrics.bytesRead,
          inputRecords = m.inputMetrics.recordsRead)
      }
    stageWork(e.stageId) = stageWork.getOrElse(e.stageId, Work()) + w
  }

  /** All work seen so far. */
  def total: Work = synchronized {
    stageWork.values.foldLeft(Work(jobs = jobMs.size.toLong))(_ + _)
  }

  /** Work of the jobs and stages submitted in `[fromMs, toMs]`. */
  def between(fromMs: Long, toMs: Long): Work = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    stageSubmitMs.collect { case (id, t) if in(t) => stageWork(id) }
      .foldLeft(Work(jobs = jobMs.count(in).toLong))(_ + _)
  }
}

/** One traced call: its name, interval, parent span and run. */
final case class Span(id: Int, name: String, parent: Int, runId: Int,
    startMs: Long, endMs: Long, seconds: Double) {
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"run":$runId,""" +
      s""""start_ms":$startMs,"end_ms":$endMs,"s":$seconds}"""
}

/** Records spans around the benchmark's calls into the engine. Spans
  * stay in memory; the harness writes them out when it ends. Each span
  * also labels the Spark jobs it submits with a job group.
  */
final class Tracer(sc: org.apache.spark.SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  var runId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setJobGroup(name, s"$name run=$runId", interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, runId, t0, System.currentTimeMillis(),
        (System.nanoTime() - n0) / 1e9)
      stack = stack.tail
      stack.headOption match {
        case Some((_, outer)) =>
          sc.setJobGroup(outer, s"$outer run=$runId", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}
