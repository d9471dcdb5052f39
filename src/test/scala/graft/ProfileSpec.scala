package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.GraftPlans
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.StageRecorder

/** `graft.Profile`'s JSON line against independent views of the same run. */
class ProfileSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = s"${PathGuardSpec.TestDataRoot}/sf0.001"

  /** Profile's JSON line for one recorded rep of `name`. */
  private def profiled(name: String): JsonNode =
    new ObjectMapper().readTree(Profile.toJson(name, dir, Profile.profile(spark, dir, name, 1)))

  private def longs(arr: JsonNode, field: String): Seq[Long] =
    arr.elements().asScala.map(_.get(field).asLong()).toSeq

  test("stage table sums equal the recorder's totals and a plain listener's") {
    val taskMs = new AtomicLong
    val shuffle = new AtomicLong
    val plain = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        shuffle.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    Bench.run(spark, dir, "q5_region_revenue")
    spark.sparkContext.addSparkListener(plain)
    val json = try {
      val rec = StageRecorder.record(spark)(Bench.run(spark, dir, "q5_region_revenue"))
      GraftPlans.drainListenerBus(spark)
      new ObjectMapper().readTree(Profile.toJson("q5_region_revenue", dir, Seq(rec)))
    } finally spark.sparkContext.removeSparkListener(plain)

    val stages = json.get("stages")
    assert(stages.size > 0)
    val stageTaskMs = longs(stages, "run_ms").sum
    val stageShuffle = longs(stages, "shuffle_write_bytes").sum
    assert(stageTaskMs == json.get("task_ms").get(0).asLong())
    assert(stageShuffle == json.get("shuffle_bytes").get(0).asLong())
    assert(stageTaskMs == taskMs.get())
    assert(stageShuffle == shuffle.get())
    assert(stageShuffle > 0, "q5 shuffles its final aggregate")
  }

  test("peak_exec_mem_bytes is each stage's largest task peak, > 0 where q5 aggregates") {
    val peaks = new ConcurrentHashMap[Int, Long]
    val plain = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          peaks.merge(te.stageId, te.taskMetrics.peakExecutionMemory, (a, b) => math.max(a, b))
    }
    Bench.run(spark, dir, "q5_region_revenue")
    spark.sparkContext.addSparkListener(plain)
    val stages = try {
      val rec = StageRecorder.record(spark)(Bench.run(spark, dir, "q5_region_revenue"))
      GraftPlans.drainListenerBus(spark)
      new ObjectMapper().readTree(Profile.toJson("q5_region_revenue", dir, Seq(rec)))
        .get("stages").elements().asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(plain)

    assert(stages.nonEmpty)
    stages.foreach { st =>
      assert(st.get("peak_exec_mem_bytes").asLong() == peaks.get(st.get("stage").asInt()),
        st.toString)
    }
    // the partial aggregate's hash map: the stage that writes the final
    // aggregate's shuffle holds execution memory
    val aggregating = stages.filter(_.get("shuffle_write_bytes").asLong() > 0)
    assert(aggregating.nonEmpty)
    assert(aggregating.forall(_.get("peak_exec_mem_bytes").asLong() > 0), aggregating.mkString("\n"))
  }

  test("the operator walk descends below a broadcast exchange inside a subquery") {
    // q_not_in_nulls runs its broadcast join inside a scalar subquery, which
    // `children` alone never reaches
    val ops = profiled("q_not_in_nulls").get("operators").elements().asScala.toSeq
    val nodes = ops.map(o => (o.get("depth").asInt(), o.get("node").asText()))
    assert(nodes.exists(_._2 == "BroadcastHashJoin"))
    val bx = nodes.indexWhere(_._2 == "BroadcastExchange")
    assert(bx >= 0, nodes.mkString("\n"))
    val below = nodes.drop(bx + 1).takeWhile(_._1 > nodes(bx)._1)
    assert(below.exists(_._2.startsWith("Scan parquet")), below.mkString("\n"))
    assert(ops(bx).get("metrics").get("numOutputRows").asLong() > 0)
  }

  test("spawned_processes sums the processes forked over the reps") {
    val rec = StageRecorder.record(spark) {
      (1 to 3).foreach(_ => assert(new ProcessBuilder("true").start().waitFor() == 0))
    }
    assert(rec.spawnedProcesses.exists(_ >= 3L), rec.spawnedProcesses)
    val json = new ObjectMapper().readTree(Profile.toJson("forks", dir, Seq(rec, rec)))
    assert(json.get("spawned_processes").asLong() == 2 * rec.spawnedProcesses.get)
    // a rep without the host counter (off Linux) drops the field
    val partial = Seq(rec, rec.copy(spawnedProcesses = None))
    assert(!new ObjectMapper().readTree(Profile.toJson("forks", dir, partial))
      .has("spawned_processes"))
  }

  test("all four planning phases are reported") {
    val phases = profiled("q1_pricing_summary").get("phases_ms")
    assert(phases.fieldNames.asScala.toSeq ==
      Seq("parsing", "analysis", "optimization", "planning"))
    val ms = Profile.Phases.map(phases.get(_).asLong())
    assert(ms.forall(_ >= 0))
    assert(ms.sum > 0)
  }
}
