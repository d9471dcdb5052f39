package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Parquet data files under the graft table protocol
  * (`TBLPROPERTIES('format'='parquet')`): the manifest two-phase
  * commit, snapshots, stats skipping, DML, and maintenance are all
  * format-agnostic through the [[GraftFormat]] seam — these tests run
  * the SAME lifecycles the JSON-backed specs run and additionally
  * assert the data files really are parquet (magic bytes), since a
  * format silently falling back to JSON would pass every logical
  * check.
  */
class GraftParquetFormatSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_pq_cat").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.pqcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.pqcat.root", root)
    s
  }

  private def tableDir(name: String) = Paths.get(root, "ns", name)

  private def dataFiles(name: String): Seq[String] =
    Manifest.read(tableDir(name)).files

  private def assertParquetFiles(name: String): Unit = {
    val fs = dataFiles(name)
    assert(fs.nonEmpty && fs.forall(_.endsWith(".parquet")), fs.mkString(","))
    fs.foreach { f =>
      val head = Files.readAllBytes(tableDir(name).resolve(f)).take(4)
      assert(new String(head, "US-ASCII") == "PAR1",
        s"$f does not start with the parquet magic")
    }
  }

  private def plannedFiles(df: DataFrame): Int = {
    df.collect()
    def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
      case q: QueryStageExec => scan(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scan)
    }
    scan(df.queryExecution.executedPlan).map(_.inputPartitions.size).sum
  }

  test("CREATE/INSERT/append/overwrite round trip stores parquet files") {
    spark.sql("CREATE TABLE pqcat.ns.t (id BIGINT, name STRING, score DOUBLE) " +
      "TBLPROPERTIES('format'='parquet')")
    spark.sql("INSERT INTO pqcat.ns.t VALUES (1, 'a', 1.5), (2, NULL, 2.5)")
    spark.sql("INSERT INTO pqcat.ns.t VALUES (3, 'tab\tand\nnewline', 3.5)")
    assertParquetFiles("t")
    val rows = spark.sql("SELECT id, name, score FROM pqcat.ns.t ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, Some("a"), 1.5), (2L, None, 2.5),
      (3L, Some("tab\tand\nnewline"), 3.5)))
    // column pruning + aggregation through the read path
    assert(spark.sql("SELECT sum(id) FROM pqcat.ns.t WHERE score > 2.0")
      .head().getLong(0) == 5L)
    spark.sql("INSERT OVERWRITE pqcat.ns.t VALUES (9, 'z', 9.9)")
    assert(spark.table("pqcat.ns.t").count() == 1)
    assertParquetFiles("t")
    spark.sql("DROP TABLE pqcat.ns.t")
  }

  test("stats-based file skipping prunes parquet files from the scan") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.skip (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    Seq(0L, 100L, 200L, 300L).foreach { base =>
      (base until base + 100L).map(i => (i, f"k$i%05d"))
        .toDF("id", "s").coalesce(1)
        .writeTo("pqcat.ns.skip").append()
    }
    assertParquetFiles("skip")
    val t = spark.table("pqcat.ns.skip")
    assert(plannedFiles(t) == 4)
    val point = t.filter("id = 250")
    assert(plannedFiles(point) == 1)
    assert(point.count() == 1)
    assert(plannedFiles(t.filter("id > 10000")) == 0)
    spark.sql("DROP TABLE pqcat.ns.skip")
  }

  test("DELETE: copy-on-write rewrites mixed files, untouched files survive") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.del (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    Seq(0L, 100L, 200L).foreach { base =>
      (base until base + 100L).map(i => (i, s"v$i"))
        .toDF("id", "s").coalesce(1).writeTo("pqcat.ns.del").append()
    }
    val before = dataFiles("del").toSet
    spark.sql("DELETE FROM pqcat.ns.del WHERE id >= 150 AND id < 160")
    val after = dataFiles("del").toSet
    // the two untouched range files survive by name; the mixed one is
    // rewritten as a new parquet file
    assert((before & after).size == 2, s"$before -> $after")
    assertParquetFiles("del")
    assert(spark.table("pqcat.ns.del").count() == 290)
    assert(spark.sql("SELECT count(*) FROM pqcat.ns.del WHERE id >= 150 AND id < 160")
      .head().getLong(0) == 0L)
    spark.sql("DROP TABLE pqcat.ns.del")
  }

  test("DELETE: merge-on-read vectors subtract parquet row ordinals; compaction materializes") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.mor (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s").coalesce(1)
      .writeTo("pqcat.ns.mor").append()
    val before = dataFiles("mor").toSet
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql("DELETE FROM pqcat.ns.mor WHERE id >= 30 AND id < 40")
    finally spark.conf.set("spark.graft.delete.mode", "cow")
    assert(dataFiles("mor").toSet == before, "MOR must not rewrite data files")
    assert(Manifest.read(tableDir("mor")).dvs.nonEmpty)
    val live = spark.table("pqcat.ns.mor").collect().map(_.getLong(0)).toSet
    assert(live.size == 90 && !live.exists(i => i >= 30 && i < 40))
    // compaction materializes the vector into one parquet file
    GraftCatalog.compact(tableDir("mor"), None)
    assert(Manifest.read(tableDir("mor")).dvs.isEmpty)
    assertParquetFiles("mor")
    assert(spark.table("pqcat.ns.mor").collect().map(_.getLong(0)).toSet == live)
    spark.sql("DROP TABLE pqcat.ns.mor")
  }

  test("UPDATE rewrites touched parquet files through the stats planner") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.upd (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('format'='parquet')")
    Seq(0L, 100L).foreach { base =>
      (base until base + 100L).map(i => (i, i.toDouble))
        .toDF("id", "v").coalesce(1).writeTo("pqcat.ns.upd").append()
    }
    import org.apache.spark.sql.functions.col
    GraftUpdate.update(spark, "pqcat.ns.upd",
      col("id") >= 150L, Map("v" -> (col("v") + 1000.0d)))
    assertParquetFiles("upd")
    val got = spark.table("pqcat.ns.upd")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(149L) == 149.0 && got(150L) == 1150.0 && got(199L) == 1199.0)
    assert(got.size == 200)
    spark.sql("DROP TABLE pqcat.ns.upd")
  }

  test("MERGE and time travel on a parquet-backed table") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.mrg (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    spark.sql("INSERT INTO pqcat.ns.mrg VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    GraftMerge.into(spark, "pqcat.ns.mrg",
      Seq((2L, "B", "U"), (3L, "", "D"), (4L, "d", "U"))
        .toDF("id", "s", "_op"), Seq("id"), "_op")
    assertParquetFiles("mrg")
    val got = spark.table("pqcat.ns.mrg")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (4L, "d")))
    // the pre-merge snapshot still reads through VERSION AS OF
    assert(spark.sql("SELECT id FROM pqcat.ns.mrg VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    spark.sql("DROP TABLE pqcat.ns.mrg")
  }

  test("schema evolution: add, rename, widen — old parquet files keep reading") {
    spark.sql("CREATE TABLE pqcat.ns.evo (id INT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    spark.sql("INSERT INTO pqcat.ns.evo VALUES (1, 'a')")
    // ADD: old file null-fills the new column
    spark.sql("ALTER TABLE pqcat.ns.evo ADD COLUMN extra DOUBLE")
    spark.sql("INSERT INTO pqcat.ns.evo VALUES (2, 'b', 2.5)")
    // RENAME: the old files carry the former key
    spark.sql("ALTER TABLE pqcat.ns.evo RENAME COLUMN s TO label")
    // WIDEN: int32 files read as BIGINT
    spark.sql("ALTER TABLE pqcat.ns.evo ALTER COLUMN id TYPE BIGINT")
    spark.sql("INSERT INTO pqcat.ns.evo VALUES (3000000000, 'c', 3.5)")
    val got = spark.sql("SELECT id, label, extra FROM pqcat.ns.evo ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(2.5)),
      (3000000000L, "c", Some(3.5))))
    spark.sql("DROP TABLE pqcat.ns.evo")
  }

  test("partitioned parquet writes keep one value per file; grouped scan plans") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.part (id BIGINT, grp STRING) " +
      "PARTITIONED BY (grp) TBLPROPERTIES('format'='parquet')")
    (0L until 60L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
      .writeTo("pqcat.ns.part").append()
    assertParquetFiles("part")
    val parts = GraftParts.read(tableDir("part"))
    assert(dataFiles("part").forall(parts.contains))
    assert(parts.values.toSet.flatten == Set("g0", "g1", "g2"))
    assert(spark.table("pqcat.ns.part").count() == 60)
    spark.sql("DROP TABLE pqcat.ns.part")
  }

  test("compactSmall bin-packs small parquet files; bloom index builds") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.cs (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "s").coalesce(1)
        .writeTo("pqcat.ns.cs").append()
    }
    val before = spark.table("pqcat.ns.cs").collect().map(_.getLong(0)).toSet
    val schema = spark.table("pqcat.ns.cs").schema
    val (nb, na) = GraftCatalog.compactSmall(
      tableDir("cs"), schema, minBytes = 1L << 20, targetBytes = 4L << 20)
    assert(nb == 4 && na == 1, s"$nb -> $na")
    assertParquetFiles("cs")
    assert(spark.table("pqcat.ns.cs").collect().map(_.getLong(0)).toSet == before)
    val (indexed, _) = GraftCatalog.buildBloomIndex(tableDir("cs"), schema, Seq("s"))
    assert(indexed == 1)
    assert(GraftBloom.read(tableDir("cs")).nonEmpty)
    spark.sql("DROP TABLE pqcat.ns.cs")
  }

  test("parquet scans run columnar; DVs, renames, and JSON stay row-correct") {
    import spark.implicits._
    def columnarScans(df: DataFrame): Seq[Boolean] = {
      df.collect()
      def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
        case q: QueryStageExec => scan(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scan)
      }
      scan(df.queryExecution.executedPlan).map(_.supportsColumnar)
    }
    spark.sql("CREATE TABLE pqcat.ns.colscan (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .writeTo("pqcat.ns.colscan").append()
    // the vectorized fast path: plan reports columnar, values exact
    val full = spark.table("pqcat.ns.colscan")
    assert(columnarScans(full) == Seq(true),
      "parquet scan must hand Spark ColumnarBatches")
    assert(full.agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) == 4950L)
    // rename: OLD files bind through the alias (the row-repack path
    // INSIDE the columnar reader) — still a columnar scan, same values
    spark.sql("ALTER TABLE pqcat.ns.colscan RENAME COLUMN s TO label")
    val renamed = spark.sql("SELECT id, label FROM pqcat.ns.colscan")
    assert(columnarScans(renamed) == Seq(true))
    assert(renamed.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (0L until 100L).map(i => (i, s"v$i")).toSet)
    // merge-on-read deletes: the scan STAYS columnar (vectorized decode
    // + live-ordinal repack) — one row-level DELETE must not demote the
    // table's files to the row path forever — and the values are
    // identical to the row path (kill switch) on the same state
    spark.conf.set("spark.graft.delete.mode", "mor")
    try {
      spark.sql("DELETE FROM pqcat.ns.colscan WHERE id >= 90")
      spark.sql("DELETE FROM pqcat.ns.colscan WHERE id IN (0, 7, 31, 64, 89)")
    } finally spark.conf.unset("spark.graft.delete.mode")
    val afterDv = spark.sql("SELECT id, label FROM pqcat.ns.colscan")
    assert(columnarScans(afterDv) == Seq(true),
      "a DV'd parquet scan must stay columnar (repack, not demote)")
    val dvCols = afterDv.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    spark.conf.set("spark.graft.catalog.columnarRead", "false")
    val dvRows = try
      spark.sql("SELECT id, label FROM pqcat.ns.colscan")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    finally spark.conf.unset("spark.graft.catalog.columnarRead")
    assert(dvCols == dvRows, "columnar DV repack must equal the row path")
    assert(dvCols == (0L until 90L).filterNot(Set(0L, 7L, 31L, 64L, 89L))
      .map(i => (i, s"v$i")).toSet)
    spark.sql("DROP TABLE pqcat.ns.colscan")
    // same contract on the VECTORIZED fast path (current-name footers,
    // no alias binding): decode batches pass through the DV repack
    spark.sql("CREATE TABLE pqcat.ns.colscan2 (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    (0L until 100L).map(i => (i, s"w$i")).toDF("id", "s")
      .writeTo("pqcat.ns.colscan2").append()
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql("DELETE FROM pqcat.ns.colscan2 WHERE id >= 20 AND id < 50")
    finally spark.conf.unset("spark.graft.delete.mode")
    val vecDv = spark.table("pqcat.ns.colscan2")
    assert(columnarScans(vecDv) == Seq(true))
    assert(vecDv.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (0L until 100L).filterNot(i => i >= 20 && i < 50)
        .map(i => (i, s"w$i")).toSet)
    spark.sql("DROP TABLE pqcat.ns.colscan2")
    // JSON tables never report columnar
    spark.sql("CREATE TABLE pqcat.ns.jrow (id BIGINT)")
    spark.sql("INSERT INTO pqcat.ns.jrow VALUES (1), (2)")
    assert(columnarScans(spark.table("pqcat.ns.jrow")) == Seq(false))
    spark.sql("DROP TABLE pqcat.ns.jrow")
  }

  test("legacy Group-API files read identically to InternalRow-written files") {
    // round 12 wrote data files through the parquet example API; round 13
    // writes through Spark's ParquetWriteSupport. Tables carry files from
    // BOTH generations, so the physical schemas must be interchangeable:
    // same footer message type, same row values through the row
    // materializer, and the legacy footer must qualify for the
    // vectorized fast path.
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("i", IntegerType)))
    val dir = graft.TestDirs("graft_gen_mix")
    val legacy = dir.resolve("legacy.parquet")
    val modern = dir.resolve("modern.parquet")
    // the r12-era writer, reproduced verbatim at the API level
    val msg = {
      val b = PTypes.buildMessage()
      b.optional(PrimitiveTypeName.INT64).named("id")
      b.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("s")
      b.optional(PrimitiveTypeName.DOUBLE).named("d")
      b.optional(PrimitiveTypeName.BOOLEAN).named("b")
      b.optional(PrimitiveTypeName.INT32).named("i")
      b.named("graft")
    }
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, conf)
    val gw = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(legacy.toUri))
      .withConf(conf).withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    try (0 until 10).foreach { k =>
      val g = gf.newGroup()
      g.add(0, k.toLong)
      if (k % 3 != 0) g.add(1, org.apache.parquet.io.api.Binary.fromString(s"v$k"))
      g.add(2, k + 0.5)
      g.add(3, k % 2 == 0)
      g.add(4, k * 7)
      gw.write(g)
    } finally gw.close()
    // the same rows through today's writer
    val w = ParquetFormat.newWriter(modern, schema)
    try (0 until 10).foreach { k =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](k.toLong,
          if (k % 3 != 0) org.apache.spark.unsafe.types.UTF8String.fromString(s"v$k")
          else null,
          k + 0.5, k % 2 == 0, k * 7)))
    } finally w.close()
    def footer(p: java.nio.file.Path) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    // the root message NAME differs (graft vs spark_schema) and no
    // reader consults it — every binding is by FIELD name and type
    assert(footer(legacy).getFields.toString == footer(modern).getFields.toString,
      "writer generations must emit identical physical fields")
    assert(GraftColumnarScan.vectorizable(footer(legacy), schema, Map.empty),
      "legacy files must qualify for the vectorized fast path")
    def readAll(p: java.nio.file.Path) = {
      val it = ParquetFormat.readRows(p, schema, schema, Map.empty)
      try it.map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        r.getDouble(2), r.getBoolean(3), r.getInt(4))).toVector
      finally it.close()
    }
    assert(readAll(legacy) == readAll(modern))
  }

  test("streaming tailer reads appended parquet snapshots") {
    import spark.implicits._
    spark.sql("CREATE TABLE pqcat.ns.tail (id BIGINT) " +
      "TBLPROPERTIES('format'='parquet')")
    Seq(1L, 2L).toDF("id").writeTo("pqcat.ns.tail").append()
    Seq(3L).toDF("id").writeTo("pqcat.ns.tail").append()
    val out = graft.TestDirs("graft_pq_tail_out").toString
    val ckpt = graft.TestDirs("graft_pq_tail_ckpt").toString
    val q = spark.readStream.table("pqcat.ns.tail")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    spark.sql("DROP TABLE pqcat.ns.tail")
  }
}
