package graft.operators

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

/** The scale patterns: salted aggregation correctness, bucketed
  * co-located joins (no shuffle), broadcast thresholds.
  */
class ScalePatternsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("salted aggregation equals direct aggregation exactly") {
    val li = Tables.table(spark, dir, "lineitem")
    val direct = li.groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(38,6)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        max(col("l_extendedprice")).as("max_price"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val salted = SaltedAgg.saltedAgg(li, Seq("l_returnflag"), saltBuckets = 16)(
      SaltedAgg.Spec(
        sums = Seq(col("l_quantity") -> "sum_qty"),
        counts = Seq("n"),
        maxs = Seq(col("l_extendedprice") -> "max_price")))
      .select(col("l_returnflag"), col("sum_qty"), col("n"), col("max_price"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(salted == direct)
  }

  test("bucketed tables co-locate the join: no shuffle in the plan") {
    val warehouse = graft.TestDirs("graft_warehouse").toString
    val db = s"bkt_${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db LOCATION '$warehouse'")
    try {
      Tables.table(spark, dir, "lineitem")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(s"$db.li_bkt")
      Tables.table(spark, dir, "orders")
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(s"$db.ord_bkt")

      val joined = spark.table(s"$db.li_bkt")
        .join(spark.table(s"$db.ord_bkt").hint("merge"), Seq("l_orderkey"))
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))

      joined.collect() // force execution so AQE finalizes the plan
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case s: ShuffleExchangeLike => 1 + s.children.map(shuffles).sum
        case other => other.children.map(shuffles).sum
      }
      val joinShuffles = shuffles(joined.queryExecution.executedPlan)
      // the join and the groupBy on the same key are both satisfied by
      // the bucketing: zero exchanges
      assert(joinShuffles == 0, s"expected no shuffle, got $joinShuffles:\n" +
        joined.queryExecution.executedPlan)
    } finally {
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // fact laid out hive-style by return flag (3 partition dirs), dim
    // filtered to 2 flags — the 100 TB date-partitioned-fact pattern:
    // the selective dim filter must reach the fact SCAN as a runtime
    // partition filter, not run as a post-scan join filter
    val root = graft.TestDirs("graft_dpp")
    Tables.table(spark, dir, "lineitem")
      .write.partitionBy("l_returnflag").mode("overwrite")
      .parquet(root.resolve("li").toString)
    val fact = spark.read.parquet(root.resolve("li").toString)
    val sp = spark
    import sp.implicits._
    // the dim must be a real source with a SELECTIVE filter above its
    // scan — a literal LocalRelation gets constant-folded and the
    // PartitionPruning rule sees no filter to derive pruning from
    Seq(("A", "returned"), ("R", "refused"), ("N", "kept"))
      .toDF("flag", "disposition")
      .write.mode("overwrite").parquet(root.resolve("dim").toString)
    val dim = spark.read.parquet(root.resolve("dim").toString)
      .filter(col("disposition") =!= "kept")
    val joined = fact
      .join(dim, col("l_returnflag") === col("flag"))
      .groupBy(col("disposition")).agg(count(lit(1)).as("n"))
    val rows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap

    // pruning subquery present in the fact scan's partition filters
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    // and the result equals the statically-filtered twin
    val expected = Tables.table(spark, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "R"))
      .groupBy(when(col("l_returnflag") === "A", "returned").otherwise("refused").as("disposition"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == expected)
  }

  test("output file sizing: maxRecordsPerFile bounds every written file") {
    // the small-file/giant-file control for a 100 TB sink: writers roll
    // to a new file at the cap instead of emitting one file per task
    // whatever its size
    val out = graft.TestDirs("graft_sizing").resolve("li").toString
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val total = li.count()
    li.coalesce(2).write
      .option("maxRecordsPerFile", 500)
      .mode("overwrite").parquet(out)
    val perFile = spark.read.parquet(out)
      .select(col("_metadata.file_path").as("f"))
      .groupBy("f").count().collect().map(_.getLong(1))
    assert(perFile.sum == total)
    assert(perFile.max <= 500, s"a file exceeds the cap: ${perFile.max}")
    assert(perFile.length >= (total / 500).toInt, perFile.length)
  }

  test("small dimension joins broadcast by default at these sizes") {
    val li = Tables.table(spark, dir, "lineitem")
    val supp = Tables.table(spark, dir, "supplier")
    val plan = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
