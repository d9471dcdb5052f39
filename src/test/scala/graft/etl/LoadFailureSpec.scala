package graft.etl

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Failure

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, concat, lit, udf}
import org.apache.spark.sql.graft.GraftPlans
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** `Load`'s failure path: the partitioned write fails while the concurrent
  * counts job is in flight.
  */
class LoadFailureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("a failing write surfaces its own exception and leaves no counts job running") {
    // the output base sits below a regular file, so the write cannot
    // create its directory
    val file = graft.TestDirs.file("graft_load_fail", ".txt")
    val outputBase = file.resolve("out").toString
    // slow rows keep the counts job busy long enough to need cancelling
    val slow = udf { (id: Long) => Thread.sleep(200); id }
    val df = spark.range(0, 40, 1, 4)
      .select(lit("20250101").as("fecha_proceso"), slow(col("id")).as("x"))

    val countsJobs = new ConcurrentHashMap[Int, Boolean] // job id -> ended
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group != null && group.startsWith(Load.CountsGroupPrefix))
          countsJobs.put(js.jobId, false)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        countsJobs.computeIfPresent(je.jobId, (_, _) => true)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[Exception](Load(df, outputBase))
      // the write's own failure, not the counts job's cancellation
      assert(!e.getMessage.contains("cancelled"), e.toString)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(file.toString)), e.toString)
      GraftPlans.drainListenerBus(spark)
      val active = spark.sparkContext.statusTracker.getActiveJobIds().toSet
      assert(countsJobs.asScala.forall(_._2), s"counts jobs still open: $countsJobs")
      assert(countsJobs.keySet.asScala.intersect(active).isEmpty)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Files.deleteIfExists(file)
    }
  }

  test("after a failed write, jobs that Futures on the global pool submit all succeed") {
    val file = graft.TestDirs.file("graft_load_fail_pool", ".txt")
    val slow = udf { (id: Long) => Thread.sleep(50); id }
    val df = spark.range(0, 40, 1, 4)
      .select(lit("20250101").as("fecha_proceso"), slow(col("id")).as("x"))
    try intercept[Exception](Load(df, file.resolve("out").toString))
    finally Files.deleteIfExists(file)
    // more Futures than the pool has workers, each blocking in a job, so
    // every worker thread, spawned or compensating, submits some of them
    implicit val ec: ExecutionContext = ExecutionContext.global
    val jobs = (0 until 64).map(i => Future(spark.range(0, 10 + i, 1, 2).count()))
    val failed = jobs.map(f => Await.ready(f, 5.minutes).value.get).collect {
      case Failure(t) => t
    }
    assert(failed.size == 0, failed.headOption.map(_.toString).getOrElse(""))
  }

  test("the success path is unchanged") {
    val out = graft.TestDirs("graft_load_ok").resolve("out").toString
    val df = spark.range(0, 10).select(
      concat(lit("2025010"), (col("id") % 3).cast("string")).as("fecha_proceso"),
      col("id"))
    assert(Load(df, out) == Map("20250100" -> 4L, "20250101" -> 3L, "20250102" -> 3L))
    assert(Load(df, out, "parquet") == Map("20250100" -> 4L, "20250101" -> 3L, "20250102" -> 3L))
  }
}
