package graft.operators

import org.apache.spark.sql.SparkSession

/** Path adoption for auto-maintained index lifecycles: the missing wire
  * between `maintain()` (which writes a compacted index at a NEW path
  * and leaves the swap to the caller) and a long-running ingest stream
  * (which must keep appending and serving across that swap without an
  * operator in the loop).
  *
  * Layout: an index ROOT may hold generation sub-indexes `_gen=<n>`,
  * each a complete index in the operator's own layout. The underscore
  * prefix matters: the LSH index root is ITSELF a parquet partition
  * directory (its `batch=*` dirs live directly under the root), and
  * underscore-prefixed children are skipped by Spark's hidden-file
  * filter — generations coexist with a flat-parquet root the same way
  * `_SUCCESS` does. (LSH's suffix-sibling sidecars land as
  * `_gen=<n>_stats` etc. — also underscore-hidden, and cleaned up by
  * the same name-prefix rule below.) The ACTIVE index is the highest
  * generation carrying the `_ADOPTED` marker file; with no adopted
  * generation the root itself is active (the legacy/bootstrap layout
  * `writeIndex` produces — nothing changes for an index that never
  * streams or never triggers maintenance).
  *
  * Per micro-batch `B` the stream driver:
  *   1. resolves the active path (one directory listing),
  *   2. appends/decides exactly as before against that path,
  *   3. calls [[maintainTick]]: when the auto-maintain conf is on and
  *      the operator's `maintain(active, root/gen=B, throughBatch =
  *      B-1)` compacts, the tick ADOPTS the new generation by creating
  *      its marker — a single atomic file create, the only commit
  *      point.
  *
  * Why the strictly-earlier serve cut survives the swap: compaction
  * folds only batches `<= B-1` — checkpoint-COMMITTED by the time
  * foreachBatch runs `B` — into the new generation's `batch=-1`
  * bootstrap, which sorts before every future cut, while later ids
  * (including the just-written `B`) carry under their own ids. Every
  * relation a serve reads is therefore cut-equivalent before and after
  * adoption, and compaction itself is serve-invariant (pinned per
  * operator by the compactIndex specs), so accept/serve decisions are
  * byte-identical to an unmaintained run.
  *
  * Crash windows (redelivery of `B` after a crash before its
  * checkpoint commit):
  *   - after append, before compact: the re-append OVERWRITES
  *     `batch=B` in the still-active old path; the tick re-runs.
  *   - during compact (target half-written, no marker): the target is
  *     invisible to [[activePath]]; the re-run tick DELETES the
  *     unadopted leftover and compacts fresh — no reliance on
  *     per-artifact overwrite aligning with a crashed attempt's
  *     layout.
  *   - after adopt, before the checkpoint commit: [[activePath]] now
  *     resolves to `gen=B`, the re-append overwrites the carried
  *     `batch=B` tail there with identical content, and the tick
  *     no-ops on its `target == active` guard (the generation this id
  *     owns already exists and is adopted — compacting an index into
  *     itself is the one move this layer must never make).
  *
  * Old generations are never deleted by the tick — a concurrent serve
  * may still be scanning one. Dropping them is a retention act
  * ([[pruneGenerations]]), same model as the catalog's
  * expireSnapshots.
  */
object IndexGenerations {

  private val Marker = "_ADOPTED"

  def genPath(root: String, id: Long): String = s"$root/_gen=$id"

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Adopted generation ids under `root`, ascending. */
  def generations(spark: SparkSession, root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("_gen=-?\\d+"))
      .flatMap { st =>
        val id = scala.util.Try(
          st.getPath.getName.stripPrefix("_gen=").toLong).toOption
        // unparseable gen dirs are someone else's files; unadopted ones
        // are invisible by design (crashed compactions)
        id.filter(_ => fs.exists(
          new org.apache.hadoop.fs.Path(st.getPath, Marker)))
      }
      .sorted
  }

  /** The index path serves and appends should use: the latest adopted
    * generation, or `root` itself when none exists.
    */
  def activePath(spark: SparkSession, root: String): String =
    generations(spark, root).lastOption
      .map(genPath(root, _)).getOrElse(root)

  /** Commit a compacted generation: create its marker (atomic file
    * create — the generation is either fully invisible or fully
    * adopted).
    */
  def adopt(spark: SparkSession, root: String, id: Long): Unit = {
    val m = new org.apache.hadoop.fs.Path(s"${genPath(root, id)}/$Marker")
    fsOf(spark, m).create(m, true).close()
  }

  /** Delete a generation INCLUDING suffix-sibling artifacts (LSH's
    * layout puts sidecars at `<path>_stats`/`_bands`/`_stats_hot`, i.e.
    * siblings named `_gen=<id>_<suffix>`): everything under `root`
    * named exactly `_gen=<id>` or starting with `_gen=<id>_` goes —
    * and ONLY that (`_gen=51` does not match `_gen=5`'s prefix rule).
    */
  private def deleteGeneration(spark: SparkSession, root: String,
      id: Long): Unit = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, rp)
    if (fs.exists(rp)) {
      val base = s"_gen=$id"
      fs.listStatus(rp)
        .filter { st =>
          val n = st.getPath.getName
          n == base || n.startsWith(base + "_")
        }
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** One auto-maintenance tick, run by a stream driver AFTER appending
    * micro-batch `batchId` to `active`: `index.maintain(active, target,
    * batchId - 1)` returns true only when it compacted into `target`.
    * Returns the adopted generation path, or None (conf off / not due /
    * redelivery-after-adoption). Streams tick only when
    * `spark.graft.index.autoMaintain` is `true` — default off: ingest
    * behavior is byte-identical to the pre-generations layout unless an
    * operator opts in.
    */
  def maintainTick(spark: SparkSession, root: String, active: String,
      batchId: Long, index: PersistedIndex): Option[String] = {
    if (!graft.Tunables.AutoMaintain(spark)) None
    else {
      val target = genPath(root, batchId)
      if (target == active) None // redelivery: this id's gen is already live
      else {
        val t = new org.apache.hadoop.fs.Path(target)
        val fs = fsOf(spark, t)
        // hygiene: a crashed tick's half-written, never-adopted target
        // (main dir OR any suffix-sibling artifact) is rebuilt from
        // scratch, not patched by overwrite alignment
        if (!fs.exists(new org.apache.hadoop.fs.Path(t, Marker)))
          deleteGeneration(spark, root, batchId)
        if (index.maintain(spark, active, target, batchId - 1)) {
          adopt(spark, root, batchId)
          Some(target)
        } else None
      }
    }
  }

  /** Retention: drop all but the newest `keepLatest` ADOPTED
    * generations (plus the legacy root index, which is never touched),
    * AND every never-adopted generation dir with an id BELOW the
    * newest adopted one — abandoned crash leftovers. A crashed
    * compaction's target is normally swept by its own id's re-run
    * tick, but a stream that never redelivers that batch (checkpoint
    * deleted, stream decommissioned) would otherwise leak a full
    * folded copy of the index forever, invisible to generations().
    * Ids at or above the newest adopted generation are left alone: one
    * may be an IN-FLIGHT compaction (batch ids are monotonic, so
    * nothing below the adopted head can ever be mid-write). An
    * explicit operator act — the tick never deletes, because a serve
    * may still be scanning an old generation.
    */
  def pruneGenerations(spark: SparkSession, root: String,
      keepLatest: Int = 2): Seq[Long] = {
    require(keepLatest >= 1, s"keepLatest must be >= 1: $keepLatest")
    val gens = generations(spark, root)
    val drop = gens.dropRight(keepLatest)
    drop.foreach(deleteGeneration(spark, root, _))
    gens.lastOption.foreach { newest =>
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = fsOf(spark, rp)
      fs.listStatus(rp).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches("_gen=-?\\d+"))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripPrefix("_gen=").toLong).toOption)
        .filter(id => id < newest &&
          !fs.exists(new org.apache.hadoop.fs.Path(
            s"${genPath(root, id)}/$Marker")))
        .foreach(deleteGeneration(spark, root, _))
    }
    drop
  }
}
