package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root",
      graft.TestDirs("graft_catalog").toString)
    s
  }

  test("CREATE / INSERT / SELECT / append / overwrite / DROP round trip") {
    spark.sql("CREATE TABLE graftcat.ns.t (id BIGINT, name STRING, score DOUBLE)")
    spark.sql("INSERT INTO graftcat.ns.t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    assert(spark.sql("SELECT * FROM graftcat.ns.t").count() == 2)

    // append keeps prior committed files (manifest merge)
    spark.sql("INSERT INTO graftcat.ns.t VALUES (3, 'c', 3.5)")
    val rows = spark.sql("SELECT id, name, score FROM graftcat.ns.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))

    // overwrite truncates
    spark.sql("INSERT OVERWRITE graftcat.ns.t VALUES (9, 'z', 9.9)")
    val after = spark.sql("SELECT id, name FROM graftcat.ns.t").collect()
    assert(after.length == 1 && after.head.getLong(0) == 9L)

    // aggregation + column pruning through the read path
    assert(spark.sql("SELECT sum(id) FROM graftcat.ns.t").head().getLong(0) == 9L)

    assert(spark.sql("SHOW TABLES IN graftcat.ns").collect().map(_.getString(1))
      .contains("t"))
    spark.sql("DROP TABLE graftcat.ns.t")
    assert(spark.sql("SHOW TABLES IN graftcat.ns").collect().isEmpty)
  }

  test("nulls and special characters survive the catalog round trip") {
    spark.sql("CREATE TABLE graftcat.ns.special (id BIGINT, s STRING)")
    spark.sql("""INSERT INTO graftcat.ns.special VALUES
      (1, 'quote"back\\slash'), (2, NULL), (3, 'tab\tand\nnewline')""")
    val got = spark.sql("SELECT id, s FROM graftcat.ns.special ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got(0)._2.get == "quote\"back\\slash")
    assert(got(1)._2.isEmpty)
    assert(got(2)._2.get == "tab\tand\nnewline")
    spark.sql("DROP TABLE graftcat.ns.special")
  }

  test("writeTo append API and rename") {
    import spark.implicits._
    spark.sql("CREATE TABLE graftcat.ns.wt (id BIGINT, s STRING)")
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").writeTo("graftcat.ns.wt").append()
    assert(spark.table("graftcat.ns.wt").count() == 2)
    spark.sql("ALTER TABLE graftcat.ns.wt RENAME TO ns.wt2")
    assert(spark.table("graftcat.ns.wt2").count() == 2)
    spark.sql("DROP TABLE graftcat.ns.wt2")
  }

  test("duplicate CREATE fails; unsupported column type rejected at CREATE") {
    spark.sql("CREATE TABLE graftcat.ns.dup (id BIGINT)")
    intercept[Exception] { spark.sql("CREATE TABLE graftcat.ns.dup (id BIGINT)") }
    spark.sql("DROP TABLE graftcat.ns.dup")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.ns.badtype (id BIGINT, v ARRAY<DOUBLE>)")
    }
    assert(e.getMessage.contains("atomic"), e.getMessage)
  }

  test("compaction merges small files, preserves rows, atomic manifest") {
    import spark.implicits._
    import java.nio.file.Paths
    spark.sql("CREATE TABLE graftcat.ns.cmp (id BIGINT, s STRING)")
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i"), (i * 10L, s"w$i")).toDF("id", "s")
        .repartition(2).writeTo("graftcat.ns.cmp").append()
    }
    val before = spark.table("graftcat.ns.cmp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val root = spark.conf.get("spark.sql.catalog.graftcat.root")
    val (nBefore, nAfter) = GraftCatalog.compact(Paths.get(root, "ns", "cmp"))
    assert(nBefore >= 3 && nAfter == 1, s"$nBefore -> $nAfter")
    val after = spark.table("graftcat.ns.cmp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    // further appends on the compacted table still work
    Seq((99L, "z")).toDF("id", "s").writeTo("graftcat.ns.cmp").append()
    assert(spark.table("graftcat.ns.cmp").count() == before.size + 1)
    spark.sql("DROP TABLE graftcat.ns.cmp")
  }

  test("VERSION AS OF reads each commit's snapshot; overwrite resets history") {
    spark.sql("CREATE TABLE graftcat.ns.tt (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graftcat.ns.tt VALUES (1, 'a')")
    spark.sql("INSERT INTO graftcat.ns.tt VALUES (2, 'b')")
    spark.sql("INSERT INTO graftcat.ns.tt VALUES (3, 'c')")

    def idsAt(v: Int): Set[Long] =
      spark.sql(s"SELECT id FROM graftcat.ns.tt VERSION AS OF $v")
        .collect().map(_.getLong(0)).toSet
    assert(idsAt(1) == Set(1L))
    assert(idsAt(2) == Set(1L, 2L))
    assert(idsAt(3) == Set(1L, 2L, 3L))
    // head of the table == latest version
    assert(spark.table("graftcat.ns.tt").count() == 3)

    // unknown version is a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.ns.tt VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("no version"), e.getMessage)

    // overwrite resets history: version numbering restarts at 1
    spark.sql("INSERT OVERWRITE graftcat.ns.tt VALUES (9, 'z')")
    assert(idsAt(1) == Set(9L))
    intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.ns.tt VERSION AS OF 2").collect()
    }
    spark.sql("DROP TABLE graftcat.ns.tt")
  }

  test("TIMESTAMP AS OF picks the latest snapshot at or before the time") {
    spark.sql("CREATE TABLE graftcat.ns.ts (id BIGINT)")
    spark.sql("INSERT INTO graftcat.ns.ts VALUES (1)")
    Thread.sleep(150)
    val betweenCommits = java.time.Instant.now()
    Thread.sleep(150)
    spark.sql("INSERT INTO graftcat.ns.ts VALUES (2)")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
    val lit = fmt.format(betweenCommits)
    val ids = spark.sql(s"SELECT id FROM graftcat.ns.ts TIMESTAMP AS OF '$lit'")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"at $lit expected only the first commit, got $ids")
    // before any commit: clear error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.ns.ts TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
    spark.sql("DROP TABLE graftcat.ns.ts")
  }

  test("compaction vacuums history and restarts it at the compacted state") {
    import spark.implicits._
    import java.nio.file.Paths
    spark.sql("CREATE TABLE graftcat.ns.cv (id BIGINT)")
    Seq(1L).toDF("id").writeTo("graftcat.ns.cv").append()
    Seq(2L).toDF("id").writeTo("graftcat.ns.cv").append()
    val root = spark.conf.get("spark.sql.catalog.graftcat.root")
    GraftCatalog.compact(Paths.get(root, "ns", "cv"))
    // one snapshot remains — the compacted state, holding all rows
    assert(spark.sql("SELECT id FROM graftcat.ns.cv VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.ns.cv VERSION AS OF 2").collect()
    }
    spark.sql("DROP TABLE graftcat.ns.cv")
  }

  test("streaming ingestion: each microbatch commit is a time-travelable snapshot") {
    import org.apache.spark.sql.DataFrame
    // stage the stream input as 3 files so the file source yields 3 batches
    val staged = graft.TestDirs("graft_ing_src").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_type"))
      .repartition(3).write.mode("overwrite").parquet(staged)
    val expected = spark.read.parquet(staged).count()

    spark.sql("CREATE TABLE graftcat.ns.ing (event_id BIGINT, user_id BIGINT, event_type STRING)")
    val ckpt = graft.TestDirs("graft_ing_ckpt").toString
    val q = spark.readStream
      .schema(spark.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.writeTo("graftcat.ns.ing").append()
      }
      .start()
    q.awaitTermination()

    assert(spark.table("graftcat.ns.ing").count() == expected)
    val root = spark.conf.get("spark.sql.catalog.graftcat.root")
    val tableDir = java.nio.file.Paths.get(root, "ns", "ing")
    val versions = Manifest.listSnapshots(tableDir)
    assert(versions.size == 3, s"one snapshot per microbatch, got $versions")
    // history is monotone: per-version counts grow to the final total
    val counts = versions.map(v =>
      spark.sql(s"SELECT count(*) FROM graftcat.ns.ing VERSION AS OF $v")
        .head().getLong(0))
    assert(counts == counts.sorted && counts.last == expected, counts.mkString(","))
    spark.sql("DROP TABLE graftcat.ns.ing")
  }

  test("empty table reads as zero rows; unknown table errors") {
    spark.sql("CREATE TABLE graftcat.ns.empty (id BIGINT)")
    assert(spark.table("graftcat.ns.empty").count() == 0)
    spark.sql("DROP TABLE graftcat.ns.empty")
    intercept[Exception] { spark.table("graftcat.ns.nope").collect() }
  }
}
