package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan

/** Canonicalized physical-plan digest for the plan-regression gate
  * (PlanFingerprintSpec): operator tree shape, exchange count, codegen
  * span count, and total expression-node count — no ids, paths, or
  * stats, so the digest is stable across sessions and machines for a
  * fixed Spark version, fixture set, and session config.
  *
  * The expression-node count is what catches silent expression blowups
  * that leave the operator tree unchanged — e.g. the round-9
  * InferFiltersFromGenerate incident, where pushdown inlined the full
  * minhash-over-ngram pipeline once per array slot at the scan (30-50x
  * the signature pass) without adding a single operator.
  */
object PlanFingerprint {

  final case class Digest(shape: String, exchanges: Int, codegenSpans: Int,
      exprNodes: Int) {
    def render: String =
      s"""{"shape":"$shape","exchanges":$exchanges,"codegen_spans":$codegenSpans,"expr_nodes":$exprNodes}"""
  }

  def of(df: DataFrame): Digest = {
    val plan = df.queryExecution.executedPlan
    def nodeName(p: SparkPlan): String =
      p.getClass.getSimpleName.stripSuffix("$").stripSuffix("Exec")
    def shape(p: SparkPlan): String =
      if (p.children.isEmpty) nodeName(p)
      else nodeName(p) + "(" + p.children.map(shape).mkString(",") + ")"
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
    def exprSize(e: Expression): Int = 1 + e.children.map(exprSize).sum
    val all = nodes(plan)
    Digest(
      shape = shape(plan),
      exchanges = all.count(n => nodeName(n).contains("Exchange")),
      codegenSpans = all.count(n => nodeName(n).startsWith("WholeStageCodegen")),
      exprNodes = all.map(_.expressions.map(exprSize).sum).sum)
  }

  /** The session config the fingerprints are pinned under: AQE off (the
    * digest is the STATIC plan — AQE wraps everything in an adaptive
    * root whose final shape depends on runtime stats), 4 shuffle
    * partitions (Verify's default). Callers apply this to a dedicated
    * or fresh `newSession` so another suite's conf changes can't leak
    * into the digests.
    */
  def pin(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  val BaselinePath = "src/test/resources/plan_fingerprints.json"

  /** Every query built against `dir`, in name order. Building runs jobs:
    * some queries write their index artifacts at construction.
    */
  def buildAll(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    GraftQuery.all.sortBy(_.name).map(q => q.name -> q.fn(spark, dir))

  def digestAll(built: Seq[(String, DataFrame)]): Seq[(String, Digest)] =
    built.map { case (name, df) => name -> of(df) }

  def renderAll(ds: Seq[(String, Digest)]): String =
    ds.map { case (n, d) => s"""  "$n": ${d.render}""" }
      .mkString("{\n", ",\n", "\n}\n")

  /** Parses the committed baseline (shapes contain only identifier
    * chars, parens and commas — never quotes — so a line regex is
    * exact).
    */
  def parseBaseline(text: String): Map[String, Digest] = {
    val rx = ("\"([A-Za-z0-9_]+)\": \\{\"shape\":\"([^\"]*)\"," +
      "\"exchanges\":(\\d+),\"codegen_spans\":(\\d+),\"expr_nodes\":(\\d+)\\}").r
    rx.findAllMatchIn(text).map { m =>
      m.group(1) -> Digest(m.group(2), m.group(3).toInt, m.group(4).toInt, m.group(5).toInt)
    }.toMap
  }
}

/** Regenerates the committed plan-fingerprint baseline:
  *
  *   runMain graft.PlanFingerprintDump [sfDir]
  *
  * Run this ONLY after inspecting an intentional plan change flagged by
  * PlanFingerprintSpec — the point of the gate is that unexplained shape
  * changes fail the build the round they land.
  */
object PlanFingerprintDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = PlanFingerprint.pin(obs.BenchSession("graft_plan_fingerprints", "4"))
    val out = java.nio.file.Paths.get(PlanFingerprint.BaselinePath)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, PlanFingerprint.renderAll(
      PlanFingerprint.digestAll(PlanFingerprint.buildAll(spark, dir))))
    println(s"[plan-fingerprints] wrote ${out.toAbsolutePath}")
    spark.stop()
  }
}
