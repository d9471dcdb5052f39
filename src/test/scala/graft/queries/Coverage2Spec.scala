package graft.queries

import org.apache.spark.sql.{Observation, functions => F}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

class Coverage2Spec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  test("stratified sample hits per-class fractions within tolerance") {
    val want = Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.1)
    val li = Tables.table(spark, dir, "lineitem")
    val base = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = li.stat.sampleBy("l_returnflag", want, 42L)
      .groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    want.foreach { case (k, f) =>
      val got = sampled.getOrElse(k, 0L).toDouble / base(k)
      assert(math.abs(got - f) < f * 0.25 + 0.01, s"class $k: sampled ratio $got vs $f")
    }
    // deterministic for a fixed seed
    val again = li.stat.sampleBy("l_returnflag", want, 42L)
      .groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == sampled)
    // the gate query's per-stratum verdict rows agree
    val verdicts = graft.SparkEntry.queries("q_sample_stratified")(spark, dir).collect()
    assert(verdicts.length == 3)
    verdicts.foreach { r =>
      assert(r.getAs[Long]("n_stratum") == base(r.getString(0)))
      assert(r.getAs[Long]("size_ok") == 1L, r.getString(0))
    }
  }

  test("observe: pipeline metrics collected in one pass, no extra job") {
    val obs = Observation("dq")
    val out = Tables.table(spark, dir, "lineitem")
      .observe(obs,
        F.count(lit(1)).as("rows_seen"),
        F.sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("bad_qty"),
        F.max(col("l_extendedprice")).as("max_price"))
      .filter(col("l_quantity") > 0)
    val kept = out.count()
    val m = obs.get
    assert(m("rows_seen").asInstanceOf[Long] == 60000L)
    assert(m("bad_qty").asInstanceOf[Long] == 60000L - kept)
    assert(m("max_price").asInstanceOf[Double] > 0)
  }

  test("partitioned parquet write prunes partitions on read") {
    val out = graft.TestDirs("graft_part").toString
    Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    val read = spark.read.parquet(out).filter(col("l_returnflag") === "A")
    read.collect()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("l_returnflag"), plan)
    // only the A partition's rows are scanned
    val aCount = Tables.table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "A").count()
    assert(read.count() == aCount)
  }
}
