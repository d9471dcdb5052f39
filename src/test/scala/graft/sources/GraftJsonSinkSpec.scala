package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

class GraftJsonSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def freshOut(): String =
    graft.TestDirs("graft_sink_spec").toString

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  private def ordersDf = Tables.table(spark, dir, "orders")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  test("round trip: written JSON lines read back identically; manifest totals match") {
    val out = freshOut()
    val df = ordersDf.repartition(4)
    df.write.format("graft-json").mode("overwrite").save(out)

    val manifest = Files.readString(Paths.get(out, Manifest.FileName))
    assert(manifest.contains(s""""rows":${df.count()}"""), manifest)

    val back = spark.read.schema(schema).json(out)
    assert(back.count() == df.count())
    val a = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(a == b)
    // no leftover temp state
    assert(!Files.exists(Paths.get(out, "_tmp")))
  }

  test("overwrite truncates previous output atomically") {
    val out = freshOut()
    ordersDf.limit(100).repartition(2)
      .write.format("graft-json").mode("overwrite").save(out)
    ordersDf.limit(10).repartition(1)
      .write.format("graft-json").mode("overwrite").save(out)
    val back = spark.read.schema(schema).json(out)
    assert(back.count() == 10)
    val manifest = Files.readString(Paths.get(out, Manifest.FileName))
    assert(manifest.contains("\"rows\":10"), manifest)
  }

  test("task retry publishes exactly once (no duplicates from the failed attempt)") {
    val out = freshOut()
    val df = ordersDf.limit(200).repartition(4)
    // partition 2's first attempt throws after opening its temp file; the
    // retry succeeds — commit must publish only the second attempt's file
    df.write.format("graft-json").mode("overwrite")
      .option("failPartitionOnce", "2").save(out)
    val back = spark.read.schema(schema).json(out)
    assert(back.count() == 200)
    assert(back.select("o_orderkey").distinct().count() == 200)
    assert(!Files.exists(Paths.get(out, "_tmp"))) // orphan attempt file swept
  }

  test("failed job aborts cleanly: no manifest, no published files") {
    val out = freshOut()
    // both attempts of partition 1 fail (maxFailures=2) -> job fails
    val df = ordersDf.limit(100).repartition(2)
      .withColumn("boom",
        when(spark_partition_id() === 1,
          raise_error(lit("forced failure"))).otherwise(lit("x")))
    intercept[Exception] {
      df.write.format("graft-json").mode("overwrite").save(out)
    }
    assert(!Files.exists(Paths.get(out, Manifest.FileName)))
    val published = if (Files.isDirectory(Paths.get(out))) {
      val s = Files.list(Paths.get(out))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
      finally s.close()
    } else 0
    assert(published == 0)
  }

  test("special characters survive the JSON encoding") {
    import spark.implicits._
    val out = freshOut()
    val rows = Seq((1L, "plain"), (2L, "quote\"back\\slash"), (3L, "tab\tnew\nline"))
    rows.toDF("id", "s").repartition(1)
      .write.format("graft-json").mode("overwrite").save(out)
    val back = spark.read
      .schema(StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
      .json(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == rows.toSet)
  }
}
