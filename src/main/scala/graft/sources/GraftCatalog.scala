package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.{DataType, StructType, StringType, LongType, IntegerType, DoubleType, BooleanType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import graft.Tunables

/** DataSource V2 TableCatalog over the graft-json table format — the
  * piece that turns the sink into a full SQL-addressable format:
  *
  *   spark.conf: spark.sql.catalog.graftcat = graft.sources.GraftCatalog
  *               spark.sql.catalog.graftcat.root = /data/graft
  *   CREATE TABLE graftcat.ns.t (id BIGINT, s STRING)
  *   INSERT INTO graftcat.ns.t SELECT ...
  *   SELECT * FROM graftcat.ns.t
  *
  * Layout: one directory per table under root/<namespace...>/<name>,
  * `_graft_table.json` holding the schema (written once at CREATE), data
  * and `_graft_manifest.json` managed by the sink's two-phase commit —
  * reads list exactly the manifest's files, so a concurrent writer is
  * invisible until its atomic manifest swap. Scans parallelize per
  * committed file.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root"))
      .getOrElse(sys.error(s"catalog $name requires option 'root'")))
  }

  override def name(): String = catalogName

  private def dirFor(ident: Identifier): Path =
    ident.namespace.foldLeft(root)(_.resolve(_)).resolve(ident.name)

  private def schemaFile(ident: Identifier): Path =
    dirFor(ident).resolve(GraftCatalog.TableFileName)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(nsDir)) return Array.empty
    val s = Files.list(nsDir)
    try s.iterator().asScala
      .filter(p => Files.exists(p.resolve(GraftCatalog.TableFileName)))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  private def droppedColumns(ident: Identifier): Set[String] = {
    val tf = dirFor(ident).resolve(GraftCatalog.DroppedFileName)
    if (!Files.exists(tf)) Set.empty
    else new String(Files.readAllBytes(tf), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSet
  }

  private def partitionColOf(ident: Identifier): Option[String] = {
    val pf = dirFor(ident).resolve(GraftCatalog.PartitionFileName)
    if (Files.exists(pf))
      Some(new String(Files.readAllBytes(pf), StandardCharsets.UTF_8).trim)
    else None
  }

  override def loadTable(ident: Identifier): Table = {
    val f = schemaFile(ident)
    if (!Files.exists(f)) throw new NoSuchTableException(ident)
    val schema = DataType.fromJson(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).asInstanceOf[StructType]
    new GraftCatalogTable(ident.toString, dirFor(ident), schema,
      partitionCol = partitionColOf(ident), format = GraftFormat.at(dirFor(ident)))
  }

  /** Time travel: `SELECT ... FROM t VERSION AS OF n` reads the immutable
    * manifest snapshot the n-th commit published. Appends and compactions
    * extend history; INSERT OVERWRITE resets it (the format's contract —
    * overwrite deletes data files, so prior snapshots would dangle).
    *
    * A non-numeric version is a BRANCH name (the Iceberg ref contract):
    * `SELECT ... FROM t VERSION AS OF 'audit'` reads the branch head —
    * the write-audit-publish audit path.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val f = schemaFile(ident)
    if (!Files.exists(f)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident)
    val schema = DataType.fromJson(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).asInstanceOf[StructType]
    version.toLongOption match {
      case Some(v) =>
        require(Manifest.listSnapshots(dir).contains(v),
          s"table $ident has no version $v " +
            s"(history: ${Manifest.listMainSnapshots(dir).mkString(", ")})")
        // a staged-but-unpublished branch snapshot is NOT main history —
        // serving it here would leak unaudited rows to a main reader
        Manifest.snapshotRef(dir, v).foreach(b =>
          throw new IllegalArgumentException(
            s"version $v of table $ident is a staged snapshot of branch " +
              s"'$b', not main history — read it with VERSION AS OF '$b'"))
        new GraftCatalogTable(s"$ident@v$v", dir, schema, Manifest.Version(v),
          partitionColOf(ident), format = GraftFormat.at(dir))
      case None =>
        // Branch validates the name BEFORE any path resolves: a version
        // string with path separators must not escape the table directory
        val b = Manifest.Branch(version)
        require(Manifest.exists(dir, b),
          s"table $ident has no version or branch '$version' " +
            s"(branches: ${Manifest.listBranches(dir).mkString(", ")})")
        new GraftCatalogTable(s"$ident@$version", dir, schema, b,
          partitionColOf(ident), format = GraftFormat.at(dir))
    }
  }

  /** `TIMESTAMP AS OF t`: the latest snapshot committed at or before `t`
    * (Spark passes microseconds since epoch; snapshot commit times are
    * their file mtimes).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val f = schemaFile(ident)
    if (!Files.exists(f)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident)
    val tsMillis = timestamp / 1000L
    // main snapshots only: a concurrently staged branch state must never
    // satisfy a main reader's TIMESTAMP AS OF
    val chosen = Manifest.listMainSnapshots(dir)
      .filter(Manifest.committedAt(dir, _) <= tsMillis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"table $ident has no snapshot at or before timestamp $timestamp"))
    val schema = DataType.fromJson(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).asInstanceOf[StructType]
    new GraftCatalogTable(s"$ident@v$chosen", dir, schema, Manifest.Version(chosen),
      partitionColOf(ident), format = GraftFormat.at(dir))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    // identity partitioning only: PARTITIONED BY (col). The layout keeps
    // one partition value per data file, which the scan reports as a
    // KeyGroupedPartitioning — the storage-partitioned-join contract.
    val partitionCol = partitions.toSeq match {
      case Seq() => None
      case Seq(t) =>
        val refs = t.references()
        require(t.name() == "identity" && refs.length == 1 &&
          refs.head.fieldNames.length == 1,
          s"graft-json supports only single-column identity partitioning, got $t")
        val colName = refs.head.fieldNames.head
        require(schema.fieldNames.contains(colName),
          s"partition column $colName not in schema")
        Some(colName)
      case many => sys.error(
        s"graft-json supports at most one partition transform, got ${many.mkString(", ")}")
    }
    val f = schemaFile(ident)
    if (Files.exists(f)) throw new TableAlreadyExistsException(ident)
    schema.foreach { field =>
      require(Set[DataType](StringType, LongType, IntegerType, DoubleType, BooleanType)
        .contains(field.dataType),
        s"graft-json supports atomic string/long/int/double/boolean columns, " +
          s"got ${field.dataType} for ${field.name}")
    }
    // data-file format, fixed at CREATE: TBLPROPERTIES('format'='parquet')
    // stores columnar data files under the identical table protocol
    val format = Option(properties.get("format"))
      .map(GraftFormat.forName).getOrElse(JsonFormat)
    Files.createDirectories(dirFor(ident))
    Files.write(f, schema.json.getBytes(StandardCharsets.UTF_8))
    GraftFormat.write(dirFor(ident), format)
    partitionCol.foreach(c => Files.write(
      dirFor(ident).resolve(GraftCatalog.PartitionFileName),
      c.getBytes(StandardCharsets.UTF_8)))
    new GraftCatalogTable(ident.toString, dirFor(ident), schema,
      partitionCol = partitionCol, format = format)
  }

  /** Metadata-only schema evolution, never rewriting a data file:
    *  - ADD COLUMN (nullable, atomic type, top-level, at the end):
    *    files written before the change end early and the reader
    *    null-fills trailing columns;
    *  - DROP COLUMN: old files keep the key, the reader lexes and
    *    discards it; the name (and its former names) tombstone;
    *  - RENAME COLUMN: old files keep the former key at the same
    *    position, the reader binds it to the current field via the
    *    rename-alias sidecar; former names stay reserved;
    *  - ALTER COLUMN TYPE for lossless widenings (int→long/double).
    * Historical snapshots always read correctly under the current
    * schema. Stats sidecars written before a rename key the former
    * name; GraftStats.read folds those entries into the current name,
    * so file skipping on a renamed column keeps pruning pre-rename
    * files too.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val f = schemaFile(ident)
    if (!Files.exists(f)) throw new NoSuchTableException(ident)
    var schema = DataType.fromJson(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).asInstanceOf[StructType]
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"graft-json supports only top-level columns, got ${add.fieldNames.mkString(".")}")
        require(add.isNullable,
          "added columns must be nullable (existing rows null-fill them)")
        require(add.position() == null,
          "added columns always append at the end (positional file contract)")
        val name = add.fieldNames.head
        require(!schema.fieldNames.contains(name), s"column $name already exists")
        // a dropped name is tombstoned: old files still carry its key at
        // its ORIGINAL position, and when that position coincides with
        // the re-added column's the positional reader would resurrect
        // old values (or crash on a type change). New name required.
        require(!droppedColumns(ident).contains(name),
          s"column $name was previously dropped; re-adding it would " +
            "resurrect old file values — use a new name")
        // a live rename alias is a key old files still carry: a column
        // re-using it could capture those values (same hazard as a
        // dropped name)
        require(!GraftCatalog.renamesAt(dirFor(ident)).values
          .exists(_.contains(name)),
          s"column name $name is a former name of a renamed column; " +
            "old file values would be ambiguous — use a new name")
        require(Set[DataType](StringType, LongType, IntegerType, DoubleType, BooleanType)
          .contains(add.dataType),
          s"graft-json supports atomic string/long/int/double/boolean columns, " +
            s"got ${add.dataType} for $name")
        schema = schema.add(name, add.dataType, nullable = true,
          if (add.comment() == null) "" else add.comment())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"graft-json supports only top-level columns, got ${del.fieldNames.mkString(".")}")
        val name = del.fieldNames.head
        require(schema.fieldNames.contains(name), s"no such column: $name")
        require(schema.length > 1, "cannot drop a table's last column")
        require(!partitionColOf(ident).contains(name),
          s"cannot drop partition column $name")
        // metadata-only: data files keep the dropped key, the reader lexes
        // and discards it. The name is tombstoned — see AddColumn above —
        // along with every former name the column carried (old files
        // still hold those keys, so re-adding any of them would resurrect
        // values just the same).
        schema = StructType(schema.filterNot(_.name == name))
        val renames = GraftCatalog.renamesAt(dirFor(ident))
        val tf = dirFor(ident).resolve(GraftCatalog.DroppedFileName)
        Files.write(tf,
          (droppedColumns(ident) + name ++ renames.getOrElse(name, Set.empty))
            .toSeq.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
        if (renames.contains(name))
          GraftCatalog.writeRenames(dirFor(ident), renames - name)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"graft-json supports only top-level columns, got ${upd.fieldNames.mkString(".")}")
        val name = upd.fieldNames.head
        require(schema.fieldNames.contains(name), s"no such column: $name")
        val from = schema(name).dataType
        val to = upd.newDataType()
        // metadata-only widening: data files store numbers as JSON text,
        // so an int-written literal re-parses losslessly as the wider
        // type — no file rewrite, and historical snapshots read correctly
        // under the widened schema. The stats sidecar re-parses min/max
        // per the CURRENT schema on every read, so skipping survives the
        // change. Only lossless widenings qualify: int→long, int→double.
        // (long→double would silently lose precision above 2^53 and is
        // rejected; float columns don't exist in this format, so the
        // classic float→double case has no analogue here.)
        val widens = (from, to) match {
          case (IntegerType, LongType) => true
          case (IntegerType, DoubleType) => true
          case _ => false
        }
        require(widens,
          s"only lossless type widening (int->long, int->double) is supported, " +
            s"got $from -> $to for $name")
        require(!partitionColOf(ident).contains(name),
          s"cannot change type of partition column $name (layout keys by its text)")
        schema = StructType(schema.map(f =>
          if (f.name == name) f.copy(dataType = to) else f))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"graft-json supports only top-level columns, got ${ren.fieldNames.mkString(".")}")
        val from = ren.fieldNames.head
        val to = ren.newName()
        require(schema.fieldNames.contains(from), s"no such column: $from")
        require(!schema.fieldNames.contains(to), s"column $to already exists")
        require(!droppedColumns(ident).contains(to),
          s"column name $to was previously dropped; old file values would " +
            "resurrect under it — use a new name")
        require(!partitionColOf(ident).contains(from),
          s"cannot rename partition column $from (layout dirs key by its name)")
        val renames = GraftCatalog.renamesAt(dirFor(ident))
        require(!renames.values.exists(_.contains(to)),
          s"column name $to is a former name of a renamed column — use a new name")
        // metadata-only: old data files keep the old key at the same
        // position; the reader accepts any former name there. The alias
        // set travels with the column across chained renames (a→b→c
        // leaves c answering for both a and b).
        schema = StructType(schema.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        GraftCatalog.writeRenames(dirFor(ident),
          (renames - from) + (to -> (renames.getOrElse(from, Set.empty) + from)))
      case other => throw new UnsupportedOperationException(
        s"graft catalog tables support only ADD/DROP/RENAME COLUMN and " +
          s"ALTER COLUMN TYPE widening, got $other")
    }
    Files.write(f, schema.json.getBytes(StandardCharsets.UTF_8))
    new GraftCatalogTable(ident.toString, dirFor(ident), schema,
      partitionCol = partitionColOf(ident), format = GraftFormat.at(dirFor(ident)))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    if (!Files.exists(schemaFile(ident))) return false
    val s = Files.walk(dir)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!Files.exists(schemaFile(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (Files.exists(schemaFile(newIdent))) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(dirFor(newIdent).getParent)
    Files.move(dirFor(oldIdent), dirFor(newIdent))
  }
}

object GraftCatalog {
  val TableFileName = "_graft_table.json"
  val PartitionFileName = "_graft_partition.json"
  val DroppedFileName = "_graft_dropped.txt"
  val RenamesFileName = "_graft_renames.txt"

  /** The directory of catalog table `catalog.[ns.]table`: the catalog's
    * `root` conf resolved by each namespace part and the table name.
    */
  def tableDir(spark: org.apache.spark.sql.SparkSession, fqn: String): Path = {
    val parts = fqn.split('.')
    require(parts.length >= 2, s"expected catalog.[ns.]table, got $fqn")
    val root = spark.conf.get(s"spark.sql.catalog.${parts.head}.root")
    parts.tail.foldLeft(Paths.get(root))(_.resolve(_))
  }

  /** current column name → every former name it has carried (RENAME
    * COLUMN history). Data files written before a rename keep the old
    * key; readers accept any former name at the column's position.
    * Sidecar format: one `current<TAB>former` pair per line.
    */
  private[sources] def renamesAt(dir: Path): Map[String, Set[String]] = {
    val f = dir.resolve(RenamesFileName)
    if (!Files.exists(f)) Map.empty
    else new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty)
      .map { line =>
        val Array(cur, former) = line.split('\t')
        (cur, former)
      }.toSeq.groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2).toSet }
  }

  private[sources] def writeRenames(
      dir: Path, renames: Map[String, Set[String]]): Unit = {
    val body = renames.toSeq.sortBy(_._1)
      .flatMap { case (c, fs) => fs.toSeq.sorted.map(f => s"$c\t$f") }
      .mkString("\n")
    Files.write(dir.resolve(RenamesFileName),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** The table's CREATE-time schema from its sidecar, when present. */
  private[sources] def tableSchemaAt(dir: Path): Option[StructType] = {
    val f = dir.resolve(TableFileName)
    if (!Files.exists(f)) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .asInstanceOf[StructType])
  }

  /** Typed single-column partition key row from its canonical text. */
  private[sources] def partitionKeyRow(
      v: Option[String], dt: DataType): InternalRow =
    InternalRow(v.map { s =>
      dt match {
        case StringType => UTF8String.fromString(s): Any
        case LongType => s.toLong: Any
        case IntegerType => s.toInt: Any
        case DoubleType => s.toDouble: Any
        case BooleanType => s.toBoolean: Any
        case other => throw new IllegalArgumentException(
          s"unsupported partition column type $other")
      }
    }.orNull)

  /** Compaction — the OPTIMIZE-style maintenance op for tables grown
    * many small files through repeated appends: one bin of every
    * committed data file (deletion vectors materialize), committed as a
    * manifest swap, then a vacuum — history restarts at the compacted
    * state and every superseded data file is deleted, except those a
    * live branch head still references (an unpublished branch stays
    * readable; its publish then fails as main advanced). Runs under the
    * table commit lock, so an append cannot commit between the read and
    * the sweep. Readers planned before the swap still reference the old
    * file list — in this local-FS build they race with the deletes
    * (single-process target); a production build keeps superseded files
    * for a grace period and vacuums later, with the same manifest
    * protocol.
    *
    * `schema` (else the table's sidecar schema) is needed for columnar
    * tables and for keeping the stats sidecar. Returns (files before,
    * files after).
    */
  def compact(tableDir: Path): (Int, Int) = compact(tableDir, None)

  def compact(tableDir: Path, schema: Option[StructType]): (Int, Int) =
    GraftJsonSink.withCommitLock(tableDir) {
      val m = Manifest.read(tableDir)
      if (m.files.size <= 1 && m.dvs.isEmpty) (m.files.size, m.files.size)
      else {
        val sch = schema.orElse(tableSchemaAt(tableDir))
        val stats = sch.fold(Map.empty[String, GraftStats.FileStats])(GraftStats.read(tableDir, _))
        val bin = s"part-compact-${java.util.UUID.randomUUID().toString.take(8)}." +
          GraftFormat.at(tableDir).ext
        val binStats = GraftDv.writeBin(tableDir, bin, m.files, m.dvs, sch, stats)
        // superseded files are about to go, so prior snapshots would
        // dangle: history restarts at the compacted state
        Manifest.dropSnapshots(tableDir, Manifest.listSnapshots(tableDir))
        Manifest.commit(tableDir, Manifest.Head, m.copy(files = Seq(bin)))
        // drop every superseded data file — both the manifest's own list
        // and any copy-on-write orphans older MERGE commits left behind
        // for VERSION AS OF reads — but not what a branch head references
        val keep = Manifest.branchFiles(tableDir) + bin
        val all = Files.list(tableDir)
        try all.iterator().asScala.toList
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") && !keep(n)
          }
          .foreach(Files.deleteIfExists(_))
        finally all.close()
        sch match {
          case Some(s) => GraftStats.write(tableDir,
            stats.filter { case (f, _) => keep(f) } ++ binStats.map(bin -> _), s)
          case None => Files.deleteIfExists(tableDir.resolve(GraftStats.StatsName))
        }
        // the compacted file concatenates every partition value, so the
        // grouped (storage-partitioned) layout no longer holds — drop the
        // sidecar; scans degrade to the flat per-file plan
        Files.deleteIfExists(tableDir.resolve(GraftParts.PartsName))
        // every indexed file was just deleted; the bloom sidecar would be
        // all-stale (advisory, so merely useless — but drop it for hygiene)
        Files.deleteIfExists(tableDir.resolve(GraftBloom.BloomName))
        // history reset: streaming offsets from the old snapshot numbering
        // must not alias the new one — a fresh epoch makes them fail loudly
        Files.deleteIfExists(tableDir.resolve(GraftTableStream.EpochFileName))
        (m.files.size, 1)
      }
    }

  /** Incremental small-file maintenance — the steady-state sibling of
    * compact(). Streaming appends and trickle inserts leave a long tail
    * of tiny files; this bin-packs every data file smaller than
    * `minBytes` into merged files of up to ~`targetBytes`, PER PARTITION
    * VALUE (so the grouped storage-partitioned layout survives), and
    * commits the new file list as a normal snapshot. Unlike compact(),
    * nothing is deleted and history is preserved: replaced originals
    * stay on disk for existing snapshots until expireSnapshots sweeps
    * them — the Iceberg rewrite_data_files model. Stats fold per bin
    * (concatenation preserves ranges), so skipping survives. Returns
    * (files before, files after).
    */
  def compactSmall(
      tableDir: Path,
      schema: StructType,
      minBytes: Long,
      targetBytes: Long): (Int, Int) = GraftJsonSink.withCommitLock(tableDir) {
    val m = Manifest.read(tableDir)
    val parts = GraftParts.read(tableDir)
    val partitioned = parts.nonEmpty
    val small = m.files
      .filter(f => Files.size(tableDir.resolve(f)) < minBytes)
      .sorted
    // greedy name-ordered bin packing within each partition value; only
    // bins of >= 2 files are worth a merge
    val bins = small.groupBy(f => if (partitioned) parts.getOrElse(f, None) else None)
      .toSeq.sortBy(_._1.toString)
      .flatMap { case (pv, fs) =>
        val acc = scala.collection.mutable.ListBuffer.empty[(Option[String], Seq[String])]
        var cur = Vector.empty[String]
        var curBytes = 0L
        fs.foreach { f =>
          val sz = Files.size(tableDir.resolve(f))
          if (cur.nonEmpty && curBytes + sz > targetBytes) {
            if (cur.size >= 2) acc += (pv -> cur)
            cur = Vector.empty; curBytes = 0L
          }
          cur :+= f; curBytes += sz
        }
        if (cur.size >= 2) acc += (pv -> cur)
        acc.toList
      }
    if (bins.isEmpty) (m.files.size, m.files.size)
    else {
      val prevStats = GraftStats.read(tableDir, schema)
      val ext = GraftFormat.at(tableDir).ext
      val merged = bins.map { case (pv, members) =>
        val name = s"part-merged-${java.util.UUID.randomUUID().toString.take(8)}.$ext"
        (name, pv, GraftDv.writeBin(tableDir, name, members, m.dvs, Some(schema), prevStats))
      }
      val replaced = bins.flatMap(_._2).toSet
      // vectors on replaced members materialized into the bins and drop
      // with their files; vectors on untouched files survive
      val keptFiles = m.files.filterNot(replaced) ++ merged.map(_._1)
      Manifest.commit(tableDir, Manifest.Head, m.copy(files = keptFiles))
      // replaced originals keep their stats/parts entries: retained
      // snapshots still read them, and both sidecars are advisory
      GraftStats.write(tableDir,
        prevStats ++ merged.collect { case (name, _, Some(fs)) => name -> fs }, schema)
      if (partitioned) GraftParts.write(tableDir, parts ++ merged.map(b => b._1 -> b._2))
      (m.files.size, keptFiles.size)
    }
  }

  /** Write-audit-publish: fork a branch at the current main head. Writers
    * stage onto it with `df.writeTo(t).option("branch", name).append()`,
    * auditors read it with `VERSION AS OF '<name>'`, and [[publishBranch]]
    * fast-forwards main to the audited state — main readers never observe
    * a staged-but-unpublished row. The fork manifest is kept verbatim so
    * publish can prove main has not advanced since the fork.
    */
  def createBranch(tableDir: Path, branch: String): Unit = {
    val b = Manifest.Branch(branch)
    GraftJsonSink.withCommitLock(tableDir) {
      require(!Manifest.exists(tableDir, b), s"branch '$branch' already exists in $tableDir")
      Manifest.fork(tableDir, b)
    }
  }

  /** Publish: atomically fast-forward main to the branch head. Fails —
    * with nothing changed — when main advanced since the fork (a
    * concurrent commit landed; the branch must be re-staged against the
    * new head), the WAP contract that makes audit results trustworthy:
    * what was audited is exactly what main becomes. Returns the snapshot
    * version the publish recorded. The branch is consumed, and its
    * snapshots fold into main history.
    */
  def publishBranch(tableDir: Path, branch: String): Long = {
    val b = Manifest.Branch(branch)
    GraftJsonSink.withCommitLock(tableDir) {
      require(Manifest.exists(tableDir, b),
        s"no branch '$branch' in $tableDir " +
          s"(have: ${Manifest.listBranches(tableDir).mkString(", ")})")
      require(Manifest.read(tableDir) == Manifest.forkOf(tableDir, b),
        s"cannot publish branch '$branch': main advanced since the fork " +
          "(concurrent commit) — re-create the branch from the new head and re-stage")
      Manifest.publish(tableDir, b)
    }
  }

  /** Drop an unpublished branch: it leaves no trace in numbered history,
    * and its staged data files become orphans that [[expireSnapshots]]
    * sweeps once their snapshots age out.
    */
  def dropBranch(tableDir: Path, branch: String): Unit = {
    val b = Manifest.Branch(branch)
    GraftJsonSink.withCommitLock(tableDir)(Manifest.drop(tableDir, b))
  }

  /** Auto-maintenance policy for a catalog table — the trigger a
    * long-running writer calls per commit tick (the same policy layer
    * as the index lifecycles' `maintain`): when the live manifest holds
    * more than `spark.graft.catalog.maintainMaxFiles` data files,
    * `compactSmall` bin-packs the files under `maintainSmallBytes`
    * into ~128 MB merges (history-preserving); snapshots
    * older than `spark.graft.catalog.snapshotRetentionMs` then expire
    * (the latest main snapshot is always retained, so a freshly
    * maintained table keeps its readable head). Not-due compaction =
    * one manifest read; expiry always runs (that is what a retention
    * HORIZON means). Returns (filesBefore, filesAfter,
    * snapshotsExpired).
    *
    * Concurrency contract: the TRIGGER read happens outside the commit
    * lock by design — a maintenance tick must not serialize against
    * live writers just to decide "not due". `compactSmall` re-reads the
    * manifest under its own lock, so table correctness and the counts
    * it returns are exact for the compaction actually performed; only
    * the not-due branch's (live, live) echo is advisory under a racing
    * concurrent commit (a writer landing mid-tick is picked up by the
    * next tick — the same eventual-trigger semantics as the index
    * lifecycles' `compactDue`).
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, tableDir: Path,
      schema: StructType): (Int, Int, Int) = {
    // every knob is read before any I/O, so a malformed one fails fast
    // whether or not compaction is due
    val maxFiles = Tunables.MaintainMaxFiles(spark)
    val smallBytes = Tunables.MaintainSmallBytes(spark)
    val retentionMs = Tunables.SnapshotRetentionMs(spark)
    val live = Manifest.read(tableDir).files.size
    val (before, after) =
      if (live > maxFiles)
        // the target: the row-group-sized read unit the columnar scan wants
        compactSmall(tableDir, schema, minBytes = smallBytes, targetBytes = 128L << 20)
      else (live, live)
    val (expired, _) = expireSnapshots(tableDir, retentionMs)
    (before, after, expired.size)
  }

  /** Time-based snapshot retention — compact()'s vacuum nukes ALL
    * history; this is the bounded-history maintenance op a table at a
    * real commit rate needs. Expires every snapshot whose commit time
    * (file mtime) is older than `olderThanMillis` ago — except the
    * latest, which always stays time-travelable — then deletes data
    * files referenced by NO retained snapshot and not the live manifest
    * (copy-on-write orphans kept alive only for expired history).
    *
    * Runs under the table commit lock, same discipline as compact():
    * a concurrent writer's manifest read-merge-swap never interleaves
    * with the reference scan, so a file committed mid-expire cannot be
    * swept. Expired versions fail loudly on VERSION AS OF (the version
    * check rejects them); retained versions keep reading because every
    * file they reference survives the sweep by construction.
    *
    * Returns (expired versions, deleted orphan data files).
    */
  def expireSnapshots(tableDir: Path, olderThanMillis: Long): (Seq[Long], Seq[String]) =
    GraftJsonSink.withCommitLock(tableDir) {
      val cutoff = System.currentTimeMillis() - olderThanMillis
      val all = Manifest.listSnapshots(tableDir)
      // the latest MAIN snapshot is always retained (branch-staged
      // snapshots are expirable like any other; their data files are
      // still pinned by the live branch head below)
      val keepLatest = Manifest.listMainSnapshots(tableDir).lastOption
        .orElse(all.lastOption)
      val expired = all.filterNot(keepLatest.contains)
        .filter(Manifest.committedAt(tableDir, _) < cutoff)
      Manifest.dropSnapshots(tableDir, expired)
      // sweep data files only history kept alive: referenced-by-nothing =
      // not in the live manifest, not in any retained snapshot, and not
      // staged on any live branch head (an unpublished branch's files
      // must survive however old its snapshots are)
      val referenced = Manifest.read(tableDir).files.toSet ++
        Manifest.branchFiles(tableDir) ++
        Manifest.listSnapshots(tableDir)
          .flatMap(v => Manifest.read(tableDir, Manifest.Version(v)).files)
      val files = Files.list(tableDir)
      val orphans = try files.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && !referenced.contains(n))
        .toList
      finally files.close()
      orphans.foreach(n => Files.deleteIfExists(tableDir.resolve(n)))
      (expired, orphans)
    }

  /** Build (or refresh) the per-file Bloom-filter index over `columns` —
    * the point-lookup maintenance op (Delta's `bloomfilter` index,
    * Iceberg's parquet bloom pages). Incremental: files already indexed
    * for every requested column keep their entries untouched; only new
    * files are read, and entries for files no longer in the manifest are
    * dropped. Runs under the commit lock so the file list it indexes is
    * one committed state; the sidecar itself is advisory (see
    * [[GraftBloom]]), so a concurrent append between this commit and the
    * next build merely scans unindexed files. Like the other maintenance
    * ops, rows are read on the driver here; a cluster build would fan the
    * per-file builders out as tasks — the sidecar format is unchanged.
    *
    * Returns (files indexed this call, files already covered).
    */
  def buildBloomIndex(
      tableDir: Path,
      schema: StructType,
      columns: Seq[String],
      bitsPerKey: Int = 12): (Int, Int) = GraftJsonSink.withCommitLock(tableDir) {
    val byName = schema.fields.map(f => f.name -> f).toMap
    columns.foreach { c =>
      val f = byName.getOrElse(c,
        sys.error(s"bloom index column '$c' not in schema ${schema.fieldNames.mkString(", ")}"))
      require(GraftBloom.indexable(f.dataType),
        s"bloom index on '$c': ${f.dataType.simpleString} is not indexable " +
          "(STRING / BIGINT / INT only)")
    }
    val Manifest(_, files, dvs, _, _) = Manifest.read(tableDir)
    val aliases = renamesAt(tableDir)
    val existing = GraftBloom.read(tableDir)
    val idx = columns.map(c => c -> schema.fieldIndex(c))
    val covered = files.filter(f =>
      existing.get(f).exists(cols => columns.forall(cols.contains)))
    val todo = files.filterNot(covered.toSet)
    val format = GraftFormat.at(tableDir)
    val fresh = todo.map { f =>
      // deleted rows would only add safe false positives, but indexing
      // live rows keeps the filter as selective as the data
      val live = GraftFormat.liveRows(format, tableDir, f,
        dvs.getOrElse(f, Nil), schema, aliases)
      val rows = try live.toVector finally live.close()
      val builders = idx.map { case (c, _) =>
        c -> new GraftBloom.Builder(rows.size.toLong, bitsPerKey)
      }
      rows.foreach { row =>
        builders.zip(idx).foreach { case ((_, b), (_, i)) =>
          if (!row.isNullAt(i)) {
            val v: Any = schema(i).dataType match {
              case StringType => row.getUTF8String(i)
              case LongType => row.getLong(i)
              case IntegerType => row.getInt(i)
              case dt => sys.error(s"unreachable: $dt")
            }
            GraftBloom.hashPair(v).foreach { case (h1, h2) => b.add(h1, h2) }
          }
        }
      }
      f -> builders.map { case (c, b) => c -> b.result() }.toMap
    }.toMap
    // merge per file: keep whatever columns an old entry had, add the new
    val live = files.toSet
    val merged = (existing.filter { case (f, _) => live.contains(f) }.toSeq ++ fresh.toSeq)
      .groupBy(_._1)
      .map { case (f, entries) => f -> entries.map(_._2).reduce(_ ++ _) }
    GraftBloom.write(tableDir, merged)
    (todo.size, covered.size)
  }
}

/** A catalog-managed graft-json table: reads list the manifest's
  * committed files (one input partition each); writes reuse the sink's
  * two-phase commit (INSERT INTO appends — the manifest merge keeps
  * prior files; INSERT OVERWRITE truncates).
  */
private[sources] class GraftCatalogTable(
    tableName: String, dir: Path, tableSchema: StructType,
    at: Manifest.At = Manifest.Head,
    partitionCol: Option[String] = None,
    format: GraftFormat = JsonFormat)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  // former column names from RENAME COLUMN; old data files still carry
  // them as keys, every raw-line read must translate
  private lazy val renameAliases: Map[String, Set[String]] =
    GraftCatalog.renamesAt(dir)
  override def partitioning(): Array[Transform] =
    partitionCol.toArray.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE)

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    at == Manifest.Head && filters.forall(FilterEval.evaluable(_, tableSchema))

  /** SQL `DELETE FROM t WHERE p` as a copy-on-write commit: files whose
    * stats prove no row can match survive untouched (the skip layer
    * planning the delete), files where every row matches drop from the
    * manifest, and only files with a genuine mix are rewritten. A row is
    * deleted exactly when the conjunction evaluates TRUE (UNKNOWN keeps
    * it — SQL semantics). Superseded files stay on disk so VERSION AS OF
    * keeps serving pre-delete snapshots until compact() vacuums, the
    * same contract as MERGE. Rewrites run on the driver like compact();
    * a cluster build distributes them through the sink and commits the
    * same manifest swap.
    */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(at == Manifest.Head, s"cannot delete from $tableName: it reads $at")
    // merge-on-read mode: record deleted ordinals in the manifest instead
    // of rewriting data files — see [[GraftDv]]. At 100 TB this turns a
    // terabyte of copy-on-write rewrite into a few KB of manifest.
    val mor = Tunables.DeleteMode(org.apache.spark.sql.internal.SQLConf.get) == "mor"
    GraftJsonSink.withCommitLock(dir) {
    val m = Manifest.read(dir)
    val stats = GraftStats.read(dir, tableSchema)
    val writeId = java.util.UUID.randomUUID().toString.take(8)
    var newStats = Map.empty[String, GraftStats.FileStats]
    var keptDvs = Map.empty[String, Seq[Int]]
    var keptRows = 0L
    val keptFiles = Vector.newBuilder[String]
    val rewriteLog = Vector.newBuilder[(String, String)]
    m.files.zipWithIndex.foreach { case (f, idx) =>
      val dv = m.dvs.getOrElse(f, Nil)
      val fileStats = stats.get(f)
      // stats describe the physical file (deleted rows included) — a
      // superset range, so the skip stays conservative under vectors
      val untouchable = fileStats.exists(fs =>
        !filters.forall(GraftStats.mayMatch(_, fs, tableSchema)))
      if (untouchable) {
        keptFiles += f
        keptRows += fileStats.get.rows - dv.length
        if (dv.nonEmpty) keptDvs += f -> dv
      } else {
        val physical = format.readRows(dir.resolve(f), tableSchema, tableSchema,
          renameAliases)
        val rows = try physical.toVector finally physical.close()
        val dead = dv.toSet
        if (mor) {
          // ordinals (among the file's physical rows) where the
          // conjunction is definitely TRUE and the row is still live
          val hits = rows.zipWithIndex.collect {
            case (row, i) if !dead(i) && filters.forall(
              FilterEval.eval(_, row, tableSchema) == java.lang.Boolean.TRUE) => i
          }
          val merged = (dv ++ hits).sorted
          if (merged.length == rows.size) {
            // every physical row deleted: the file (and its vector) drops
          } else {
            keptFiles += f
            keptRows += rows.size - merged.length
            if (merged.nonEmpty) keptDvs += f -> merged
          }
        } else {
          val collector = new GraftStats.Collector(tableSchema)
          val kept = rows.zipWithIndex.collect { case (row, i) if !dead(i) => row }
            .filter { row =>
              val isDeleted = filters.forall(
                FilterEval.eval(_, row, tableSchema) == java.lang.Boolean.TRUE)
              if (!isDeleted) collector.observe(row)
              !isDeleted
            }
          if (kept.size == rows.size) { // no hit, no vector: keep as-is
            keptFiles += f
            keptRows += rows.size
          } else if (kept.size == rows.size - dv.length) {
            // no predicate hit; the file only carries its prior vector
            keptFiles += f
            keptRows += kept.size
            keptDvs += f -> dv
          } else if (kept.nonEmpty) { // mixed: rewrite survivors
            // the rewrite materializes the prior vector too — the new
            // file holds only live rows and needs no vector entry
            val nf = f"part-$writeId-rw$idx%05d.${format.ext}"
            val w = format.newWriter(dir.resolve(nf), tableSchema)
            try kept.foreach(w.write) finally w.close()
            keptFiles += nf
            keptRows += kept.size
            newStats += nf -> collector.result()
            rewriteLog += f -> nf
          } // all live rows matched: file drops from the manifest entirely
        }
      }
    }
    Manifest.commit(dir, Manifest.Head,
      m.copy(rows = keptRows, files = keptFiles.result(), dvs = keptDvs))
    if (newStats.nonEmpty) GraftStats.write(dir, stats ++ newStats, tableSchema)
    // a rewritten file holds exactly the survivors of ONE original file,
    // so it inherits that file's partition value — the grouped layout
    // survives row-level deletes
    val rewrites = rewriteLog.result()
    if (partitionCol.isDefined && rewrites.nonEmpty) {
      val parts = GraftParts.read(dir)
      val inherited = rewrites.collect {
        case (orig, nf) if parts.contains(orig) => nf -> parts(orig)
      }
      if (inherited.size == rewrites.size)
        GraftParts.write(dir, parts ++ inherited)
      else Files.deleteIfExists(dir.resolve(GraftParts.PartsName))
    }
    } // withCommitLock
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      private var required: StructType = tableSchema
      private var skippingFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var hadFilters = false
      private var aggResult: Option[GraftAggPushdown.Result] = None
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      // Stats-based skipping only: we remember the filters we can evaluate
      // against file min/max ranges but return EVERY filter as a residual,
      // so Spark re-applies them post-scan — skipping can only drop files
      // that provably hold no matching row, never change results.
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
        hadFilters = filters.nonEmpty
        skippingFilters = GraftStats.understood(filters)
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = skippingFilters
      // Global count/min/max answered straight from the manifest + stats
      // sidecar (see [[GraftAggPushdown]]): exact or refused, and refused
      // whenever any filter is present — every filter of ours is a
      // residual, so aggregating pre-filter rows would be wrong.
      private def tryAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
          Option[GraftAggPushdown.Result] =
        if (hadFilters) None
        else {
          GraftAggPushdown.compute(agg, dir, tableSchema, Manifest.read(dir, at))
        }
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        tryAgg(agg).isDefined
      // always recompute from the argument — Spark may probe complete
      // pushdown with one aggregation and push a different one
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        aggResult = tryAgg(agg)
        aggResult.isDefined
      }
      override def build(): Scan = aggResult match {
        case Some(r) => new GraftAggScan(tableName, r)
        case None => buildFileScan()
      }
      private def buildFileScan(): Scan = new Scan with Batch
          with org.apache.spark.sql.connector.read.SupportsReportPartitioning
          with org.apache.spark.sql.connector.read.SupportsReportStatistics {
        // lazy vals, not defs: outputPartitioning (plan time) and
        // planInputPartitions (execution time) must see ONE committed
        // state — a concurrent commit between the two calls could
        // otherwise report n groups and deliver m
        // files and deletion vectors parse from ONE manifest read: two
        // reads could straddle a DV-materialize commit and pair an old
        // file list with a manifest that no longer carries its vectors
        private lazy val committed: Manifest = Manifest.read(dir, at)
        private lazy val dvs: Map[String, Seq[Int]] = committed.dvs
        private lazy val keptFiles: Seq[String] = {
          val files = committed.files
          if (skippingFilters.isEmpty) files
          else {
            // two advisory layers compose: min/max ranges answer the
            // ordered predicates, per-file Bloom filters answer equality
            // on high-cardinality columns whose ranges overlap across
            // files (where min/max never prunes). Either saying
            // "provably empty" drops the file; a file missing from
            // either sidecar passes that layer.
            val stats = GraftStats.read(dir, tableSchema)
            val blooms = GraftBloom.read(dir)
            files.filter { f =>
              stats.get(f).forall(fs =>
                skippingFilters.forall(GraftStats.mayMatch(_, fs, tableSchema))) &&
              blooms.get(f).forall(bs =>
                skippingFilters.forall(GraftBloom.mayMatch(_, bs, tableSchema)))
            }
          }
        }
        // storage-partitioned layout: group the kept files by their
        // partition value when (a) the table is identity-partitioned,
        // (b) the session opted into v2 bucketing, and (c) the sidecar
        // covers EVERY kept file — anything less degrades to the flat
        // per-file scan (more parallelism, no reported partitioning),
        // never to a wrong grouping.
        private lazy val grouping: Option[Seq[(Option[String], Seq[String])]] =
          partitionCol.flatMap { _ =>
            val enabled = org.apache.spark.sql.internal.SQLConf.get
              .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
            if (!enabled) None
            else {
              val parts = GraftParts.read(dir)
              val kept = keptFiles
              if (!kept.forall(parts.contains)) None
              else Some(kept.groupBy(parts(_)).toSeq.sortBy(_._1))
            }
          }
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def toMicroBatchStream(checkpointLocation: String):
            org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
          require(at == Manifest.Head,
            s"cannot stream from $tableName: it reads $at — stream the table head " +
              "(publish a branch first)")
          new GraftTableStream(dir, tableSchema, required, format)
        }
        override def planInputPartitions(): Array[InputPartition] =
          grouping match {
            case Some(groups) =>
              val col = partitionCol.get
              val dt = tableSchema(tableSchema.fieldIndex(col)).dataType
              groups.map { case (v, fs) =>
                JsonFilesPartition(fs.map(f => dir.resolve(f).toString), v,
                  GraftCatalog.partitionKeyRow(v, dt)): InputPartition
              }.toArray
            case None =>
              keptFiles
                .map(f => JsonFilePartition(dir.resolve(f).toString): InputPartition)
                .toArray
          }
        override def outputPartitioning():
            org.apache.spark.sql.connector.read.partitioning.Partitioning =
          grouping match {
            case Some(groups) =>
              new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
                Array(org.apache.spark.sql.connector.expressions.Expressions
                  .identity(partitionCol.get)),
                groups.size)
            case None =>
              new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
          }
        // Manifest-derived table statistics, reported AFTER file skipping:
        // without this Spark assumes defaultSizeInBytes (effectively
        // "huge") for a V2 relation and never auto-broadcasts a graft
        // table — every join against one degrades to sort-merge no matter
        // how small the dimension is. Bytes are the on-disk size of the
        // kept files (an over-estimate of row-data size, so broadcast
        // decisions stay conservative); rows come from the stats sidecar
        // minus deletion-vector holes, omitted unless every kept file is
        // covered. O(kept files) metadata calls, no data read.
        private lazy val reportedStats:
            org.apache.spark.sql.connector.read.Statistics = {
          val files = keptFiles
          var bytes = 0L
          files.foreach { f =>
            try bytes += Files.size(dir.resolve(f))
            catch { case _: java.io.IOException => () }
          }
          val sidecar = GraftStats.read(dir, tableSchema)
          val rowsKnown = files.forall(sidecar.contains)
          val rows =
            if (rowsKnown)
              files.iterator
                .map(f => sidecar(f).rows - dvs.get(f).fold(0)(_.length))
                .sum
            else 0L
          val sizeFinal = bytes
          new org.apache.spark.sql.connector.read.Statistics {
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(sizeFinal)
            override def numRows(): java.util.OptionalLong =
              if (rowsKnown) java.util.OptionalLong.of(rows)
              else java.util.OptionalLong.empty()
          }
        }
        override def estimateStatistics():
            org.apache.spark.sql.connector.read.Statistics = reportedStats
        override def description(): String =
          s"graft-${format.name} $tableName, skipping filters: [${skippingFilters.mkString(", ")}]"
        override def createReaderFactory(): PartitionReaderFactory =
          new JsonFileReaderFactory(tableSchema, required, renameAliases, dvs, format,
            // kill switch + A/B probe handle for the columnar path
            columnar = Tunables.ColumnarRead(org.apache.spark.sql.internal.SQLConf.get),
            // the same understood filters that pruned whole files prune
            // row groups inside the kept ones (GraftColumnarScan); the
            // conf is the kill switch + A/B probe handle
            filters = if (Tunables.RowGroupSkip(org.apache.spark.sql.internal.SQLConf.get))
              skippingFilters else Array.empty)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(at == Manifest.Head, s"cannot write to $tableName: it reads $at — " +
      "write to a branch via .option(\"branch\", ...) on the main table handle")
    // write-audit-publish staging: df.writeTo(t).option("branch", b).append()
    // commits to the branch head only — invisible to main readers until
    // GraftCatalog.publishBranch fast-forwards main to the audited state
    val writeBranch = Option(info.options.get("branch"))
    new GraftJsonWriteBuilder(dir.toString, tableSchema, None,
      partitionCol = partitionCol, branch = writeBranch, format = format)
  }
}

/** The scan a completely-pushed aggregation plans to: one partition, one
  * pre-computed row, zero data files opened. The values were folded from
  * the manifest + stats sidecar at pushdown time against ONE committed
  * state, so the row is consistent even if a writer commits before
  * execution (same snapshot-isolation contract as a normal scan).
  */
private class GraftAggScan(tableName: String, result: GraftAggPushdown.Result)
    extends Scan with Batch {
  override def readSchema(): StructType = result.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(AggRowPartition(result.values))
  override def createReaderFactory(): PartitionReaderFactory =
    new AggRowReaderFactory
  override def description(): String =
    s"graft-json $tableName, pushed aggregation -> " +
      result.schema.fieldNames.mkString("[", ", ", "]")
}

private case class AggRowPartition(values: Array[Any]) extends InputPartition

private class AggRowReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      private val row =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          p.asInstanceOf[AggRowPartition].values)
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

private case class JsonFilePartition(path: String) extends InputPartition

/** One storage partition: every data file holding `valueText`, reported
  * to Spark with its typed partition key so two tables with the same
  * identity layout join WITHOUT a shuffle (storage-partitioned join).
  */
private case class JsonFilesPartition(
    paths: Seq[String], valueText: Option[String], key: InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private class JsonFileReaderFactory(fileSchema: StructType, required: StructType,
    aliases: Map[String, Set[String]] = Map.empty,
    dvs: Map[String, Seq[Int]] = Map.empty,
    format: GraftFormat = JsonFormat,
    columnar: Boolean = true,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {

  private def partitionPaths(partition: InputPartition): Seq[String] =
    partition match {
      case JsonFilePartition(p) => Seq(p)
      case JsonFilesPartition(ps, _, _) => ps
    }

  // Columnar (batched) reads for parquet tables: scan-level constant (the
  // DSv2 exec requires every partition to agree), true when the format is
  // columnar and the projection is non-empty (agg pushdown owns
  // count-style scans). Files carrying a deletion vector stay columnar
  // too — the reader decodes vectorized and repacks live ordinals (one
  // row-level DELETE must not demote a standing table's hot files to the
  // row path forever). Per-FILE adaptation — vectorized pass-through vs
  // DV repack vs alias-bound row repack — happens inside
  // GraftColumnarReader.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && format == ParquetFormat && required.nonEmpty

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftColumnarReader(partitionPaths(partition), fileSchema, required,
      aliases, dvs, filters)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val paths = partitionPaths(partition)
    // deletion vectors subtract by ordinal (a row's index among its
    // file's physical rows, in file order) — the merge-on-read half of
    // MOR deletes; GraftFormat.readRows is dv-unaware by contract, so
    // the ordinal spaces agree. Files open one at a time and the open
    // handle is released on close() — early-terminated scans (LIMIT,
    // exceptions, failed tasks) do not leak a parquet reader per file
    new PartitionReader[InternalRow] {
      private val pathIt = paths.iterator
      private var rows: GraftFormat.Rows = _
      private var current: InternalRow = _
      private def openNext(): Boolean = {
        while (pathIt.hasNext) {
          val p = Paths.get(pathIt.next())
          val all = format.readRows(p, fileSchema, required, aliases)
          rows = dvs.get(p.getFileName.toString) match {
            case None => all
            case Some(dv) =>
              val dead = dv.toSet
              all.mapRows(_.zipWithIndex.collect { case (r, i) if !dead(i) => r })
          }
          if (rows.hasNext) return true
          rows.close(); rows = null
        }
        false
      }
      override def next(): Boolean = {
        while (rows == null || !rows.hasNext) {
          if (rows != null) { rows.close(); rows = null }
          if (!openNext()) return false
        }
        current = rows.next()
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit =
        if (rows != null) { rows.close(); rows = null }
    }
  }
}

/** Parser for the sink's own JSON-lines output (keys in schema order,
  * escapes as written by GraftJsonSink.renderRow) — a private format
  * reader, not a general JSON parser.
  */
private[sources] object JsonLineParser {

  def parse(line: String, fileSchema: StructType, required: StructType,
      aliases: Map[String, Set[String]] = Map.empty): InternalRow = {
    val values = new Array[Any](required.length)
    val reqIdx = required.fieldNames.zipWithIndex.toMap
    var i = 0
    expect(line, i, '{'); i += 1
    var f = 0
    var entry = 0
    // a row may END EARLY: files written before an ADD COLUMN lack the
    // trailing columns, which null-fill (append-only schema evolution).
    // A row may also carry keys the schema no longer has (files written
    // before a DROP COLUMN): those values are lexed and discarded. Both
    // work because schema order is always a subsequence of any file's
    // key order — adds append, drops preserve relative order. A key may
    // also be a FORMER name of the current field (files written before a
    // RENAME COLUMN): `aliases` maps each current name to its former
    // names, and such a key binds to the current field.
    while (f < fileSchema.length && !(i < line.length && line.charAt(i) == '}')) {
      if (entry > 0) { expect(line, i, ','); i += 1 }
      entry += 1
      val (key, i2) = parseString(line, i)
      i = i2
      expect(line, i, ':'); i += 1
      val field = fileSchema(f)
      val bound = key == field.name ||
        aliases.getOrElse(field.name, Set.empty).contains(key)
      if (!bound) { // dropped column: skip its value
        if (i < line.length && line.charAt(i) == '"') {
          val (_, i3) = parseString(line, i); i = i3
        } else {
          val (_, i3) = parseScalar(line, i); i = i3
        }
      } else if (line.startsWith("null", i)) {
        i += 4
        // null: leave slot null if required
      } else {
        val out = reqIdx.get(field.name)
        field.dataType match {
          case StringType =>
            val (s, i3) = parseString(line, i); i = i3
            out.foreach(values(_) = UTF8String.fromString(s))
          case LongType =>
            val (s, i3) = parseScalar(line, i); i = i3
            out.foreach(values(_) = s.toLong)
          case IntegerType =>
            val (s, i3) = parseScalar(line, i); i = i3
            out.foreach(values(_) = s.toInt)
          case DoubleType =>
            val (s, i3) = parseScalar(line, i); i = i3
            out.foreach(values(_) = s.toDouble)
          case BooleanType =>
            val (s, i3) = parseScalar(line, i); i = i3
            out.foreach(values(_) = s.toBoolean)
          case dt => throw new IllegalArgumentException(s"unsupported type $dt")
        }
      }
      if (bound) f += 1
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  private def expect(line: String, i: Int, c: Char): Unit =
    require(i < line.length && line.charAt(i) == c,
      s"expected '$c' at $i in: $line")

  private def parseScalar(line: String, start: Int): (String, Int) = {
    var i = start
    while (i < line.length && line.charAt(i) != ',' && line.charAt(i) != '}') i += 1
    (line.substring(start, i), i)
  }

  private def parseString(line: String, start: Int): (String, Int) = {
    expect(line, start, '"')
    val sb = new java.lang.StringBuilder()
    var i = start + 1
    while (i < line.length && line.charAt(i) != '"') {
      val c = line.charAt(i)
      if (c == '\\') {
        val n = line.charAt(i + 1)
        n match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(line.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => throw new IllegalArgumentException(s"bad escape \\$other")
        }
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i + 1) // past closing quote
  }
}
