package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType

/** Merge-on-read deletion vectors — the delete path that does NOT
  * rewrite data files.
  *
  * A DELETE in `mor` mode (session conf `spark.graft.delete.mode=mor`)
  * records, per data file, the sorted 0-based ordinals of its deleted
  * rows (ordinal = the row's index among the file's non-empty lines, in
  * file order — the same indexing every reader of the format produces).
  * The vectors ride INSIDE the manifest (`"dvs":{"<file>":[o,...]}`), so
  * a delete commits atomically with the usual manifest swap, every
  * snapshot captures the vectors in force at its commit (VERSION AS OF
  * replays deletes exactly), and compaction/expiry need no extra
  * orphan-tracking. Readers subtract the vector while scanning; rewrites
  * (compact, zorder, update-touched files) MATERIALIZE vectors — the
  * rewritten file carries only live rows and its vector entry drops.
  *
  * Why this matters at 100 TB: a copy-on-write delete of 100 rows spread
  * over 1 000 × 1 GB files rewrites a terabyte; the vector commit writes
  * a few KB of manifest. The trade is a per-scan membership test, paid
  * until maintenance (OPTIMIZE/compaction) folds the vectors in — the
  * Iceberg v2 position-delete / Delta deletion-vector design. At that
  * scale the ordinal sets would serialize as roaring bitmaps in sidecar
  * files referenced by the manifest; the inline JSON array here keeps
  * the single-commit-point protocol identical with zero new file kinds.
  *
  * Stats/bloom sidecars keep describing the PHYSICAL file (deleted rows
  * included): skipping stays conservative (a superset range can only
  * keep extra files, never drop a live match), and no sidecar needs
  * touching on the delete path. Live-row accounting is always
  * `stats.rows - dv.length`.
  */
object GraftDv {

  /** Write `members`' live rows, in order, as ONE new data file `name` —
    * the bin writer of compaction, small-file bin packing and vector
    * materialize. JSON-lines files concatenate byte-wise (no parse, no
    * schema); columnar files stream rows through one writer and need
    * `schema`. A member's deletion vector materializes: only its live
    * rows are written. Returns the new file's stats when `schema` is
    * known: the fold of the members' `prevStats` (concatenation
    * preserves ranges) when every member has an entry and none had a
    * vector, else — a fold would count materialized-away rows, and its
    * null counts feed IsNotNull skipping — recollected from the file
    * just written when a member had a vector; None otherwise.
    */
  private[sources] def writeBin(
      dir: Path,
      name: String,
      members: Seq[String],
      dvs: Map[String, Seq[Int]],
      schema: Option[StructType],
      prevStats: Map[String, GraftStats.FileStats]): Option[GraftStats.FileStats] = {
    val format = GraftFormat.at(dir)
    val aliases = GraftCatalog.renamesAt(dir)
    val target = dir.resolve(name)
    format match {
      case JsonFormat =>
        val out = Files.newOutputStream(target)
        try members.foreach { f =>
          dvs.get(f) match {
            case None => out.write(Files.readAllBytes(dir.resolve(f)))
            case Some(dv) =>
              val dead = dv.toSet
              Files.readAllLines(dir.resolve(f), StandardCharsets.UTF_8).asScala
                .filter(_.nonEmpty).zipWithIndex.foreach { case (l, i) =>
                  if (!dead(i)) { out.write(l.getBytes(StandardCharsets.UTF_8)); out.write('\n') }
                }
          }
        }
        finally out.close()
      case _ =>
        val sch = schema.getOrElse(
          sys.error(s"compacting a ${format.name} table requires its schema"))
        val w = format.newWriter(target, sch)
        try members.foreach { f =>
          val rows = GraftFormat.liveRows(format, dir, f, dvs.getOrElse(f, Nil), sch, aliases)
          try rows.foreach(w.write) finally rows.close()
        }
        finally w.close()
    }
    schema.flatMap { sch =>
      if (members.exists(dvs.contains)) {
        val c = new GraftStats.Collector(sch)
        val rows = format.readRows(target, sch, sch, aliases)
        try rows.foreach(c.observe) finally rows.close()
        Some(c.result())
      } else {
        val inputs = members.flatMap(prevStats.get)
        if (inputs.size == members.size) Some(inputs.reduce(GraftStats.merge)) else None
      }
    }
  }

  /** Rewrite `targets` (files that carry a vector) as live-only files,
    * one bin each, committing the swap as a normal snapshot: data files
    * change names, their vector entries drop, row count is unchanged.
    * Callers that re-read data files OUTSIDE the vector-aware scan
    * (UPDATE's staging read) materialize first so a deleted row can
    * never resurrect. Must run under the table commit lock (re-entrant
    * for callers that already hold it). Returns old name → new name.
    */
  private[sources] def materialize(
      dir: Path, schema: StructType, targets: Seq[String]): Map[String, String] =
    GraftJsonSink.withCommitLock(dir) {
      val m = Manifest.read(dir)
      val todo = targets.filter(m.dvs.contains)
      if (todo.isEmpty) Map.empty
      else {
        val stats = GraftStats.read(dir, schema)
        val ext = GraftFormat.at(dir).ext
        val writeId = java.util.UUID.randomUUID().toString.take(8)
        val written = todo.zipWithIndex.map { case (f, i) =>
          val nf = f"part-$writeId-dv$i%05d.$ext"
          (f, nf, writeBin(dir, nf, Seq(f), m.dvs, Some(schema), stats))
        }
        val renamed = written.map { case (f, nf, _) => f -> nf }.toMap
        Manifest.commit(dir, Manifest.Head,
          m.copy(files = m.files.filterNot(renamed.contains) ++ renamed.values))
        GraftStats.write(dir,
          stats ++ written.collect { case (_, nf, Some(fs)) => nf -> fs }, schema)
        // a materialized file holds exactly the live rows of ONE original,
        // so it inherits that file's partition value — grouped layout holds
        val parts = GraftParts.read(dir)
        if (parts.nonEmpty) {
          val inherited = renamed.collect {
            case (orig, nf) if parts.contains(orig) => nf -> parts(orig)
          }
          if (inherited.size == renamed.size)
            GraftParts.write(dir, parts ++ inherited)
          else Files.deleteIfExists(dir.resolve(GraftParts.PartsName))
        }
        renamed
      }
    }
}
