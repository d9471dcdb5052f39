package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** OPTIMIZE ... ZORDER BY for graft catalog tables: one copy-on-write
  * snapshot commit that rewrites the table's files clustered on the
  * Morton z-value of two columns. The write pass collects fresh per-file
  * stats, so after the rewrite a 2-D box predicate prunes to the few
  * files whose min/max ranges cover it — the layout step that makes
  * stats-based skipping effective for MULTI-column workloads, where any
  * single-column clustering leaves the second dimension unprunable.
  *
  * Same commit discipline as MERGE: the atomic manifest rename is the
  * commit point, the pre-optimize snapshot stays readable via VERSION AS
  * OF until compact() vacuums it, and a reader planned mid-rewrite sees
  * the old layout. The rewrite is pure layout — row multiset identical.
  */
object GraftOptimize {

  /** Rewrite `tableFqn` z-ordered on (`xCol`, `yCol`) into `numFiles`
    * files. Returns the (unchanged) row count.
    */
  def zorderBy(
      spark: SparkSession,
      tableFqn: String,
      xCol: String,
      yCol: String,
      numFiles: Int): Long = {
    val dir = GraftCatalog.tableDir(spark, tableFqn)
    // the lock spans the scan through the replace swap (the inner
    // replace-commit reenters it): an append committing between the
    // scan's manifest read and the swap would otherwise vanish from the
    // rewritten manifest — the same lost-update MERGE locks against
    GraftJsonSink.withCommitLock(dir) {
      graft.operators.ZOrder
        .layout(spark.table(tableFqn), col(xCol), col(yCol), numFiles)
        .write.format("graft-json")
        .option("format", GraftFormat.at(dir).name)
        .option("replace", "true").mode("overwrite").save(dir.toString)
      spark.table(tableFqn).count()
    }
  }
}
