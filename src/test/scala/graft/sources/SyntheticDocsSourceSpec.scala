package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SyntheticDocsSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def read(rows: Long, parts: Int) = spark.read
    .format("graft.sources.SyntheticDocsSource")
    .option("rows", rows).option("partitions", parts).option("seed", 7)
    .load()

  test("generates the requested rows across the requested partitions") {
    val df = read(10000, 16)
    assert(df.count() == 10000)
    assert(df.rdd.getNumPartitions == 16)
    assert(df.select(countDistinct(col("doc_id"))).head().getLong(0) == 10000)
  }

  test("deterministic: same seed same corpus, partitioning-independent") {
    val a = read(500, 4).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = read(500, 13).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("column pruning reaches the reader") {
    val df = read(1000, 4).select("doc_id")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("doc_id"), scan)
    assert(!scan.contains("ReadSchema: struct<doc_id:bigint,text"), scan)
    assert(df.agg(sum("doc_id")).head().getLong(0) == (0L until 1000L).sum)
  }

  test("vocabSize/dupRate: wide vocab with planted near-dups, found by ppjoin") {
    val df = spark.read.format("graft-docs")
      .option("rows", 4000).option("partitions", 8).option("seed", 7)
      .option("vocabSize", 50000).option("dupRate", 0.05)
      .load()
    // ~5% of docs are one-word-substituted copies of their predecessor
    val planted = df.count() * 5 / 100
    val pairs = graft.operators.PrefixFilterJoin
      .pairs(df.select(col("doc_id"), col("text")), num = 4, den = 5)
      .collect()
    // long planted dups clear jaccard 0.8 (short ones legitimately don't:
    // 3 of ~20 shingles change); wide vocab keeps chance pairs at zero
    assert(pairs.length > planted / 3, s"found ${pairs.length} of ~$planted planted")
    assert(pairs.forall(_.getDouble(2) >= 0.8d))
    assert(pairs.forall(r => r.getLong(1) - r.getLong(0) == 1L),
      "all true pairs are (id, id+1) by construction")
  }

  test("feeds the dedup operators end to end") {
    val df = read(2000, 8)
    df.createOrReplaceTempView("synth_docs")
    val stats = spark.sql(
      "SELECT count(*) AS n, count(DISTINCT md5(text)) AS uniq FROM synth_docs").head()
    assert(stats.getLong(0) == 2000)
    assert(stats.getLong(1) > 1500) // deterministic corpus, mostly unique
  }

  test("two reads of one corpus compare equal, so Spark reuses one exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def side(name: String) =
        read(2000, 4).repartition(8, col("doc_id")).select(col("doc_id"), col("text").as(name))
      val joined = side("a").join(side("b"), "doc_id")
      assert(joined.collect().length == 2000)
      val plan = nodes(joined.queryExecution.executedPlan)
      assert(plan.exists(_.isInstanceOf[ReusedExchangeExec]),
        joined.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
