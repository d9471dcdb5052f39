package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE INTO for graft catalog tables, as a copy-on-write snapshot
  * commit — the row-level-update primitive of the lakehouse pattern.
  *
  * A change feed with an op column (`U`psert / `I`nsert / `D`elete,
  * keyed on `keyCols`) merges into the table in one distributed job:
  * surviving base rows come through a key-anti-join (BloomAntiJoin's
  * pre-filter applies verbatim when the feed is small relative to the
  * base), upserts come from the feed itself, and the union commits
  * through the sink's two-phase protocol in `replace` mode: the new
  * manifest lists only the merged state, but superseded data files and
  * prior snapshots stay on disk — `VERSION AS OF` keeps serving every
  * pre-merge state until `GraftCatalog.compact()` vacuums them. Readers
  * planned before the commit see the old manifest; the atomic manifest
  * rename is the single commit point, exactly as for append.
  *
  * At 100 TB this is the standard copy-on-write trade: the merge
  * rewrites the table's data files (here: all of them — a production
  * build partitions the table and rewrites only touched partitions),
  * in exchange for reads that never pay a merge-on-read penalty.
  */
object GraftMerge {

  /** Apply `changes` to catalog table `catalog.ns...name`. Returns the
    * merged row count. `changes` must carry `keyCols` plus the base
    * table's full column set for non-delete rows, plus `opCol`, and
    * must have AT MOST ONE row per key: two change rows on the same key
    * (e.g. a D plus a U) have no defined merge order, so — mirroring
    * standard MERGE INTO's multiple-source-rows-matched error — the
    * feed is validated up front and duplicates fail loudly before any
    * write happens. Collapse multi-event feeds to last-event-per-key
    * (e.g. a window over a change sequence number) before merging.
    */
  /** Optional `txn` = (appId, version): recorded inside the manifest the
    * merge commits, atomically with the swap — the idempotence handle
    * for streaming re-delivery (see [[graft.streaming.CdcMergeStream]]).
    * When the table's marker for appId already covers the version, the
    * merge commits nothing and returns the current row count.
    */
  /** With `evolveSchema = true`, change-feed columns the table lacks are
    * ADDed (nullable, atomic types, appended — the catalog's append-only
    * evolution contract) before merging: pre-merge rows null-fill them,
    * upserts carry their values. Without the flag an unknown column
    * fails loudly before any write — silent column swallowing is the
    * worse default.
    */
  def into(
      spark: SparkSession,
      tableFqn: String,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String = "op",
      txn: Option[(String, Long)] = None,
      evolveSchema: Boolean = false): Long = {
    val dir = GraftCatalog.tableDir(spark, tableFqn)
    // table lock for the whole read-merge-write: an append committing
    // between the survivors read and the replace swap would otherwise
    // vanish from the merged manifest (the inner commit re-enters)
    GraftJsonSink.withCommitLock(dir) {
      // a re-delivered streaming batch: this stream's marker already
      // covers the version, so the batch committed once and is skipped
      val applied = txn.exists { case (appId, v) =>
        Manifest.read(dir).txn.get(appId).exists(_ >= v) }
      if (!applied) {
        // Pin the feed to ONE evaluation for the whole merge: the dup-key
        // validation, the anti-join, and the upsert branch each trigger a
        // job over `changes`, and a non-deterministic feed could otherwise
        // validate one set of rows and merge another.
        val pinned = changes.cache()
        try {
          val dupKeys = pinned.groupBy(keyCols.map(col): _*)
            .count().filter(col("count") > 1)
            .select(keyCols.map(col): _*).head(3)
          require(dupKeys.isEmpty,
            s"MERGE change feed has multiple rows per key on (${keyCols.mkString(", ")}); " +
              s"e.g. ${dupKeys.mkString(", ")} — collapse to one change per key first")
          // schema evolution: feed columns the table lacks ADD (through the
          // catalog's ALTER path, so tombstone/alias/type rules all apply)
          // BEFORE the base is resolved — base rows then null-fill them
          val extras = pinned.schema.fields.filter(f =>
            f.name != opCol && !spark.table(tableFqn).columns.contains(f.name))
          if (extras.nonEmpty) {
            require(evolveSchema,
              s"MERGE change feed carries columns the table lacks: " +
                s"${extras.map(_.name).mkString(", ")} — pass evolveSchema = true " +
                "to add them, or drop them from the feed")
            extras.foreach(f => spark.sql(
              s"ALTER TABLE $tableFqn ADD COLUMN ${f.name} ${f.dataType.sql}"))
          }
          val base = spark.table(tableFqn)
          val survivors = base.join(
            pinned.select(keyCols.map(col): _*), keyCols, "left_anti")
          val upserts = pinned.filter(col(opCol) =!= "D")
            .select(base.columns.map(col).toIndexedSeq: _*)
          val merged = survivors.unionByName(upserts)
          val w = merged.write.format("graft-json")
            .option("format", GraftFormat.at(dir).name)
            .option("replace", "true").mode("overwrite")
          txn.fold(w) { case (appId, v) =>
            w.option("txnAppId", appId).option("txnVersion", v.toString)
          }.save(dir.toString)
        } finally pinned.unpersist(blocking = false)
      }
    }
    spark.table(tableFqn).count()
  }
}
