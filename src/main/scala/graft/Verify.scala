package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Loud-gate invariant: EVERY registered query produces an output
  * directory. A query that throws (plan-time or execution) gets a
  * one-row placeholder with a single `err` column carrying the message —
  * the driver's comparator then reports a schema/row mismatch for that
  * name instead of silently dropping it from the artifact (the r7
  * failure mode: 12 erroring queries simply vanished). The final
  * emitted-vs-registered count is asserted and printed.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (dev iteration),
    // or "@sweep" — every query EXCEPT the quadratic-oracle set, whose
    // `_sliced` companions stand in at big scale factors (the sf0.1
    // sweep's 0-timeout contract). The driver always runs the full set.
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) == "@sweep")
        Some(GraftQuery.all.filterNot(_.quadraticOracle).map(_.name).toSet)
      else if (args.length > 2) Some(args(2).split(",").toSet)
      else None
    val spark = obs.BenchSession("graft_verify", obs.BenchSession.cpus("4"))
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var ok = 0
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        // loud placeholder: one row, one `err` column — guarantees the
        // driver reports this name as a mismatch rather than omitting it
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("err").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case inner: Throwable =>
          System.err.println(s"[verify] $name: placeholder write also failed: ${inner.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[verify] emitted ${ok + failed.size}/${selected.size} outputs " +
      s"($ok ok, ${failed.size} failed${if (failed.nonEmpty) ": " + failed.sorted.mkString(", ") else ""})")
    require(ok + failed.size == selected.size,
      s"verify emitted ${ok + failed.size} outputs for ${selected.size} registered queries")
    spark.stop()
    // a failed query must not fail the whole artifact (the driver treats
    // rc!=0 as a dead round) — the placeholder rows carry the signal
  }
}
