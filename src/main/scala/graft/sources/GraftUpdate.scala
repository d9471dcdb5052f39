package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.graft.GraftPlans

/** UPDATE ... SET ... WHERE for graft catalog tables — the copy-on-write
  * counterpart to SQL DELETE, planned by the same stats layer:
  *
  *  - files whose min/max ranges prove the predicate can't match survive
  *    in the manifest WITHOUT BEING READ;
  *  - candidate files stream through executors (a distributed scan of
  *    exactly those files), each row rewritten when the predicate is
  *    definitely TRUE under three-valued logic (UNKNOWN keeps the
  *    original — SQL semantics) and kept verbatim otherwise;
  *  - rewritten rows commit through the sink (fresh per-file stats in
  *    the same pass) and the manifest swap is the single atomic commit
  *    point; the pre-update snapshot stays readable via VERSION AS OF
  *    until compact() vacuums it.
  *
  * At 100 TB the touched-file set is what a clustered layout makes
  * small — combine with ZOrder/range ingest so point updates rewrite a
  * few files, not the table.
  */
object GraftUpdate {

  /** Apply `set` (column → new-value expression, evaluated against the
    * pre-update row) to every row of `tableFqn` matching `where`.
    * Returns the table's (unchanged) row count.
    */
  def update(
      spark: SparkSession,
      tableFqn: String,
      where: Column,
      set: Map[String, Column]): Long = {
    val dir = GraftCatalog.tableDir(spark, tableFqn)
    val table = spark.table(tableFqn)
    val schema = table.schema
    val unknown = set.keySet.diff(schema.fieldNames.toSet)
    require(unknown.isEmpty, s"SET references unknown columns: $unknown")

    val skipFilters = GraftStats.understood(GraftPlans.translateFilters(table, where))
    // the lock spans planning through splice: an append committing
    // between our manifest read and our manifest swap would be dropped
    // by the rewrite otherwise (row-level ops serialize with appends)
    GraftJsonSink.withCommitLock(dir) {
    // materialize deletion vectors on files this update may rewrite
    // FIRST: the staging read below goes through Spark's by-name JSON
    // reader, which has no row ordinals — without materializing, a
    // MOR-deleted row would resurrect into the rewritten file
    locally {
      val m0 = Manifest.read(dir)
      if (m0.dvs.nonEmpty) {
        val stats0 = GraftStats.read(dir, schema)
        GraftDv.materialize(dir, schema, m0.files.filter { f =>
          m0.dvs.contains(f) && stats0.get(f).forall(fs =>
            skipFilters.forall(GraftStats.mayMatch(_, fs, schema)))
        })
      }
    }
    val m = Manifest.read(dir)
    val stats = GraftStats.read(dir, schema)
    // a file is touched unless its stats PROVE no row matches; files
    // without stats always count as touched (sound, never lossy)
    val (touched, untouched) = m.files.partition { f =>
      stats.get(f).forall(fs =>
        skipFilters.forall(GraftStats.mayMatch(_, fs, schema)))
    }
    if (touched.nonEmpty) {
      // FAILFAST: a corrupt data line must abort the update — the default
      // PERMISSIVE mode would silently rewrite it as an all-null row and
      // commit the damage back into the table. Files written before a
      // RENAME COLUMN carry the former key, which Spark's by-name JSON
      // reader would null: read former names as extra columns of the
      // current type and coalesce into the current column.
      val aliases = GraftCatalog.renamesAt(dir)
      val format = GraftFormat.at(dir)
      val readSchema = org.apache.spark.sql.types.StructType(
        schema ++ schema.flatMap(f =>
          aliases.getOrElse(f.name, Set.empty).toSeq.sorted
            .map(a => f.copy(name = a))))
      def cur(n: String): Column =
        org.apache.spark.sql.functions.coalesce(
          (col(n) +: aliases.getOrElse(n, Set.empty).toSeq.sorted.map(col)): _*)
      val touchedPaths = touched.map(f => dir.resolve(f).toString)
      val updated = (format match {
        case JsonFormat => spark.read.schema(readSchema)
          .option("mode", "FAILFAST")
          .json(touchedPaths: _*)
        // parquet: Spark's reader null-fills requested columns absent
        // from a file (corruption fails hard by format design)
        case ParquetFormat => spark.read.schema(readSchema)
          .parquet(touchedPaths: _*)
      })
        // normalize to current names FIRST so `where` and the SET
        // expressions (written against current names) see old-file values
        .select(schema.fieldNames.toIndexedSeq.map(n => cur(n).as(n)): _*)
        .select(schema.fieldNames.toIndexedSeq.map { n =>
          set.get(n) match {
            case Some(e) =>
              when(where, e.cast(schema(n).dataType)).otherwise(col(n)).as(n)
            case None => col(n)
          }
        }: _*)
      // render through the engine's own sink into a staging dir — the
      // executors write data files + stats there, then the driver splices
      // them into the live manifest in one atomic swap. The staging dir
      // (manifest, stats sidecar, snapshot, _tmp) is deleted once the
      // data files have moved out, whether or not the commit succeeds.
      val staging = Files.createTempDirectory("graft_update")
      try {
      updated.write.format("graft-json").option("format", format.name)
        .mode("overwrite").save(staging.toString)
      val newFiles = Manifest.read(staging).files
      val newStats = GraftStats.read(staging, schema)
      newFiles.foreach(f => Files.move(staging.resolve(f), dir.resolve(f)))

      val allStats = stats ++ newStats
      // stats-less files answer from the format's cheapest row count —
      // parquet reads the footer record count, no page decode
      def fileRows(f: String): Long = allStats.get(f).map(_.rows).getOrElse(
        format.countRows(dir.resolve(f), schema, aliases))
      val allFiles = untouched ++ newFiles
      // untouched files may still carry deletion vectors (touched ones
      // were materialized above): their vectors survive the commit and
      // their live count subtracts the vector
      val keptRows = allFiles.map(f =>
        fileRows(f) - m.dvs.get(f).fold(0L)(_.length.toLong)).sum
      Manifest.commit(dir, Manifest.Head, m.copy(rows = keptRows, files = allFiles))
      GraftStats.write(dir, allStats, schema)
      } finally GraftJsonSink.deleteRecursively(staging)
    }
    } // withCommitLock
    spark.table(tableFqn).count()
  }
}
