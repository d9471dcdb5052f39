package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Stats-based file skipping on graft-json catalog tables: per-file
  * min/max/null-count ranges collected at write time prune whole files
  * from the scan when the pushed filter provably matches nothing in them.
  * Every test asserts BOTH the planned-file reduction and that results
  * equal an unskippable evaluation of the same predicate.
  */
class FileSkippingSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_skip").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.skipcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.skipcat.root", root)
    s
  }

  /** Input partitions (= files) the scan actually planned. */
  private def plannedFiles(df: DataFrame): Int = {
    df.collect() // force planning (AQE finalizes lazily)
    def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
      case q: QueryStageExec => scan(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scan)
    }
    val scans = scan(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.map(_.inputPartitions.size).sum
  }

  /** 4 single-partition inserts → 4 files with disjoint id ranges. */
  private def mkRangedTable(name: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE skipcat.ns.$name (id BIGINT, s STRING, v DOUBLE)")
    Seq(0L, 100L, 200L, 300L).foreach { base =>
      (base until base + 100L).map(i => (i, f"k$i%05d", i / 10.0))
        .toDF("id", "s", "v").coalesce(1)
        .writeTo(s"skipcat.ns.$name").append()
    }
  }

  test("point and range filters read only the covering files") {
    mkRangedTable("ranged")
    val t = spark.table("skipcat.ns.ranged")
    assert(plannedFiles(t) == 4) // no filter: all files

    val point = t.filter("id = 250")
    assert(plannedFiles(point) == 1)
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(250L))

    val range = t.filter("id >= 150 AND id < 310")
    assert(plannedFiles(range) == 3)
    assert(range.count() == 160)

    // disjunction spans two files
    val or = t.filter("id = 50 OR id = 350")
    assert(plannedFiles(or) == 2)
    assert(or.count() == 2)

    // IN list
    val in = t.filter("id IN (10, 20, 30)")
    assert(plannedFiles(in) == 1)
    assert(in.count() == 3)

    // empty intersection: every file skipped, zero partitions planned
    val none = t.filter("id > 10000")
    assert(plannedFiles(none) == 0)
    assert(none.count() == 0)

    // string prefix + range on the second column
    val pre = t.filter("s >= 'k00150' AND s <= 'k00159'")
    assert(plannedFiles(pre) == 1)
    assert(pre.count() == 10)

    val sw = t.filter("s LIKE 'k003%'")
    assert(plannedFiles(sw) == 1)
    assert(sw.count() == 100)

    // double column
    val dbl = t.filter("v < 5.0")
    assert(plannedFiles(dbl) == 1)
    assert(dbl.count() == 50)
    spark.sql("DROP TABLE skipcat.ns.ranged")
  }

  test("skipping never changes results on overlapping unsorted files") {
    import spark.implicits._
    spark.sql("CREATE TABLE skipcat.ns.overlap (id BIGINT, s STRING, v DOUBLE)")
    // overlapping ranges, shuffled order inside each file
    val rnd = new scala.util.Random(7)
    Seq(0 until 150, 100 until 260, 240 until 400).foreach { r =>
      rnd.shuffle(r.toList).map(i => (i.toLong, s"s$i", i * 1.5))
        .toDF("id", "s", "v").coalesce(1)
        .writeTo("skipcat.ns.overlap").append()
    }
    val t = spark.table("skipcat.ns.overlap")
    val full = t.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    for (pred <- Seq("id = 120", "id < 100", "id >= 260", "v > 500.0",
        "s = 's0'", "id BETWEEN 140 AND 250")) {
      val viaScan = t.filter(pred).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val viaMemory = {
        val d = spark.createDataFrame(
          spark.sparkContext.parallelize(full.toSeq.map(x =>
            org.apache.spark.sql.Row(x._1, x._2, x._3))), t.schema)
        d.filter(pred).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      }
      assert(viaScan == viaMemory, s"mismatch for $pred")
    }
    // middle file overlaps both others: a point in the overlap keeps 2
    assert(plannedFiles(t.filter("id = 110")) == 2)
    spark.sql("DROP TABLE skipcat.ns.overlap")
  }

  test("null-aware pruning: IS NULL skips all-value files and vice versa") {
    import spark.implicits._
    spark.sql("CREATE TABLE skipcat.ns.nulls (id BIGINT, s STRING)")
    // file 1: no nulls; file 2: all-null strings; file 3: mixed
    Seq((1L, Some("a")), (2L, Some("b"))).map(x => (x._1, x._2.orNull))
      .toDF("id", "s").coalesce(1).writeTo("skipcat.ns.nulls").append()
    Seq((3L, None), (4L, None)).map(x => (x._1, x._2.orNull: String))
      .toDF("id", "s").coalesce(1).writeTo("skipcat.ns.nulls").append()
    Seq((5L, Some("c")), (6L, None)).map(x => (x._1, x._2.orNull))
      .toDF("id", "s").coalesce(1).writeTo("skipcat.ns.nulls").append()
    val t = spark.table("skipcat.ns.nulls")

    val isNull = t.filter("s IS NULL")
    assert(plannedFiles(isNull) == 2)
    assert(isNull.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 6L))

    val notNull = t.filter("s IS NOT NULL")
    assert(plannedFiles(notNull) == 2)
    assert(notNull.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L))

    // equality never matches a null; all-null file skipped
    val eq = t.filter("s = 'c'")
    assert(plannedFiles(eq) == 1)
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(5L))

    // null-safe equality to null = IS NULL pruning
    val nse = t.filter("s <=> CAST(NULL AS STRING)")
    assert(plannedFiles(nse) == 2)
    assert(nse.count() == 3)
    spark.sql("DROP TABLE skipcat.ns.nulls")
  }

  test("compaction folds file stats; skipping keeps working afterwards") {
    mkRangedTable("compacted")
    val dir = Paths.get(root, "ns", "compacted")
    val schema = spark.table("skipcat.ns.compacted").schema
    val (before, after) = GraftCatalog.compact(dir, Some(schema))
    assert(before == 4 && after == 1)
    val t = spark.table("skipcat.ns.compacted")
    // one file now: in-range point reads it, out-of-range skips it
    assert(plannedFiles(t.filter("id = 250")) == 1)
    assert(plannedFiles(t.filter("id > 10000")) == 0)
    assert(t.filter("id = 250").count() == 1)
    assert(t.count() == 400)
    // appends after compaction add fresh stats alongside the folded entry
    import spark.implicits._
    Seq((1000L, "zz", 0.0)).toDF("id", "s", "v").coalesce(1)
      .writeTo("skipcat.ns.compacted").append()
    assert(plannedFiles(spark.table("skipcat.ns.compacted").filter("id = 1000")) == 1)
    spark.sql("DROP TABLE skipcat.ns.compacted")
  }

  test("INSERT OVERWRITE resets stats; stale sidecar never misleads reads") {
    mkRangedTable("reset")
    spark.sql("INSERT OVERWRITE skipcat.ns.reset VALUES (5000, 'only', 1.0)")
    val t = spark.table("skipcat.ns.reset")
    assert(t.count() == 1)
    assert(plannedFiles(t.filter("id = 5000")) == 1)
    assert(plannedFiles(t.filter("id = 10")) == 0) // new stats, not stale ones
    spark.sql("DROP TABLE skipcat.ns.reset")
  }

  test("a missing or corrupt sidecar disables skipping but not reading") {
    mkRangedTable("nostats")
    val sidecar = Paths.get(root, "ns", "nostats").resolve(GraftStats.StatsName)
    Files.write(sidecar, "not json at all".getBytes)
    val t = spark.table("skipcat.ns.nostats")
    val q = t.filter("id = 250")
    assert(plannedFiles(q) == 4) // no stats → every file scanned
    assert(q.count() == 1)       // … and the result is still right
    Files.delete(sidecar)
    assert(plannedFiles(t.filter("id = 250")) == 4)
    spark.sql("DROP TABLE skipcat.ns.nostats")
  }

  test("NaN poisons a double column's range; other columns still skip") {
    import spark.implicits._
    spark.sql("CREATE TABLE skipcat.ns.nan (id BIGINT, v DOUBLE)")
    Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "v").coalesce(1)
      .writeTo("skipcat.ns.nan").append()
    Seq((10L, 100.0), (11L, 200.0)).toDF("id", "v").coalesce(1)
      .writeTo("skipcat.ns.nan").append()
    val t = spark.table("skipcat.ns.nan")
    // v-range of file 1 is unknown → it must stay in every v-filtered scan;
    // that is REQUIRED for correctness, not just caution: Spark orders NaN
    // above every value, so its NaN row matches v > 150.0
    assert(plannedFiles(t.filter("v > 1000.0")) == 1)
    assert(t.filter("v > 150.0").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 11L))
    // Spark semantics: NaN is greater than any value and equal to itself
    assert(t.filter("v = double('NaN')").count() == 1)
    // id ranges are intact in both files
    assert(plannedFiles(t.filter("id = 10")) == 1)
    spark.sql("DROP TABLE skipcat.ns.nan")
  }

  test("time-travel reads prune with the same sidecar") {
    import spark.implicits._
    spark.sql("CREATE TABLE skipcat.ns.tt (id BIGINT, s STRING, v DOUBLE)")
    Seq((1L, "a", 1.0)).toDF("id", "s", "v").coalesce(1)
      .writeTo("skipcat.ns.tt").append()
    Seq((100L, "b", 2.0)).toDF("id", "s", "v").coalesce(1)
      .writeTo("skipcat.ns.tt").append()
    // v1 = first append only
    val v1 = spark.sql("SELECT * FROM skipcat.ns.tt VERSION AS OF 1")
    assert(v1.count() == 1)
    val v2point = spark.sql("SELECT * FROM skipcat.ns.tt VERSION AS OF 2 WHERE id = 100")
    assert(plannedFiles(v2point) == 1)
    assert(v2point.head().getString(1) == "b")
    spark.sql("DROP TABLE skipcat.ns.tt")
  }

  test("skipping on a renamed column still prunes pre-rename files") {
    import spark.implicits._
    mkRangedTable("rn")
    spark.sql("ALTER TABLE skipcat.ns.rn RENAME COLUMN id TO key")
    // one post-rename file on top of the four pre-rename ones
    (400L until 500L).map(i => (i, f"k$i%05d", i / 10.0))
      .toDF("key", "s", "v").coalesce(1).writeTo("skipcat.ns.rn").append()
    // pre-rename sidecar entries key "id"; the read must fold them into
    // "key" so a point filter plans ONE file, not all five
    val point = spark.table("skipcat.ns.rn").filter(org.apache.spark.sql.functions.col("key") === 150L)
    assert(plannedFiles(point) == 1, "pre-rename stats must keep pruning")
    assert(point.count() == 1)
    val post = spark.table("skipcat.ns.rn").filter(org.apache.spark.sql.functions.col("key") === 450L)
    assert(plannedFiles(post) == 1)
    spark.sql("DROP TABLE skipcat.ns.rn")
  }

  test("malformed rowGroupBytes fails fast at write planning, never silently defaults") {
    import spark.implicits._
    // a unit-suffixed or non-positive value once fell through a
    // catch-all to default-size groups — the layout knob's effect became
    // environment-dependent and unverifiable (the vacuous-A/B failure
    // mode). The driver-side resolver must throw instead.
    spark.sql("CREATE TABLE skipcat.ns.rgbad (id BIGINT) " +
      "TBLPROPERTIES('format'='parquet')")
    try {
      for (bad <- Seq("64m", "0", "-1")) {
        spark.conf.set("spark.graft.parquet.rowGroupBytes", bad)
        try {
          val e = intercept[Exception] {
            Seq(1L, 2L).toDF("id").writeTo("skipcat.ns.rgbad").append()
          }
          def chain(t: Throwable): Seq[Throwable] =
            if (t == null) Nil else t +: chain(t.getCause)
          assert(chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains("rowGroupBytes")),
            s"'$bad' must fail fast with a clear message, got $e")
        } finally spark.conf.unset("spark.graft.parquet.rowGroupBytes")
      }
      // and a well-formed value still writes
      Seq(1L, 2L).toDF("id").writeTo("skipcat.ns.rgbad").append()
      assert(spark.table("skipcat.ns.rgbad").count() == 2)
      // a JSON-format table never consumes the knob, so a malformed
      // value must NOT fail its writes (resolution is format-gated)
      spark.sql("CREATE TABLE skipcat.ns.rgjson (id BIGINT)")
      spark.conf.set("spark.graft.parquet.rowGroupBytes", "64m")
      try {
        Seq(1L, 2L).toDF("id").writeTo("skipcat.ns.rgjson").append()
        assert(spark.table("skipcat.ns.rgjson").count() == 2)
      } finally {
        spark.conf.unset("spark.graft.parquet.rowGroupBytes")
        spark.sql("DROP TABLE skipcat.ns.rgjson")
      }
    } finally spark.sql("DROP TABLE skipcat.ns.rgbad")
  }

  test("row groups skip INSIDE a kept parquet file") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    spark.sql("CREATE TABLE skipcat.ns.rg (id BIGINT, s STRING) " +
      "TBLPROPERTIES('format'='parquet')")
    // one data file, many small row groups with disjoint id ranges
    spark.conf.set("spark.graft.parquet.rowGroupBytes", "65536")
    try (0L until 40000L).map(i => (i, f"r$i%06d")).toDF("id", "s")
      .coalesce(1).writeTo("skipcat.ns.rg").append()
    finally spark.conf.unset("spark.graft.parquet.rowGroupBytes")
    val dir = Paths.get(root, "ns", "rg")
    val dataFile = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
    assert(dataFile.size == 1, s"expected one data file, got $dataFile")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(dataFile.head).toUri),
        GraftFormat.hadoopConf))
    val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
    assert(nGroups >= 4, s"need several row groups to skip, got $nGroups")
    // rows the scan EMITS (all filters are residual, so scan output =
    // rows decoded from surviving row groups)
    def scanOutputRows(df: DataFrame): Long = {
      df.collect()
      def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
        case q: QueryStageExec => scan(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scan)
      }
      scan(df.queryExecution.executedPlan)
        .map(_.metrics("numOutputRows").value).sum
    }
    val t = spark.table("skipcat.ns.rg")
    // the file is kept (its whole-file range covers the point), but only
    // the covering row group(s) decode
    val point = t.filter("id = 25000")
    assert(plannedFiles(point) == 1, "the one file must stay planned")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(25000L))
    val decoded = scanOutputRows(point)
    assert(decoded > 0 && decoded <= 40000L / 2,
      s"a point predicate must decode a fraction of the file: $decoded")
    // range predicate: surviving groups cover the range, results exact
    val range = t.filter("id >= 30000 AND id < 31000")
    assert(range.count() == 1000)
    assert(scanOutputRows(range) < 40000L,
      "a selective range must skip row groups")
    // unselective predicate decodes everything and loses nothing
    val all = t.filter("id >= 0")
    assert(scanOutputRows(all) == 40000L)
    assert(all.count() == 40000L)
    // string column: byte-ordered min/max prune too
    val sPoint = t.filter("s = 'r025000'")
    assert(sPoint.count() == 1)
    assert(scanOutputRows(sPoint) <= 40000L / 2)
    spark.sql("DROP TABLE skipcat.ns.rg")
  }
}
