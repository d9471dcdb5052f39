package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Contracts for the shared `batch=<id>` lifecycle mechanics all five
  * persisted indexes (ppjoin / LSH / BM25 / IVF / LSH-ANN) build on:
  * serve-side listing falls back (`None`) on off-contract names, the
  * compaction tail FAILS FAST on file-bearing off-contract dirs under
  * every batched artifact (a silent string flip of the inferred
  * partition column would drop committed rows), appends never touch the
  * build's `batch=-1`, every numeric tunable fails fast naming its key
  * at the engine's own read, and the strictly-earlier serve cut tolerates
  * legacy layouts.
  */
class IndexLifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(): String = {
    val d = graft.TestDirs("idxlc").toString
    d
  }

  private def writeBatch(root: String, id: Long, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (id * 100 + i, s"v$i"))
      .toDF("k", "s").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/batch=$id")
  }

  test("batchDirIds: ids, serve cut, missing dir, off-contract => None") {
    val root = tmp()
    writeBatch(root, -1, 3); writeBatch(root, 0, 2); writeBatch(root, 1, 2)
    assert(IndexLifecycle.batchDirIds(spark, root) === Some(Set(-1L, 0L, 1L)))
    assert(IndexLifecycle.batchDirIds(spark, root, Some(1L)) === Some(Set(-1L, 0L)))
    assert(IndexLifecycle.batchDirIds(spark, s"$root/nope") === Some(Set.empty[Long]))
    fs(new org.apache.hadoop.fs.Path(root))
      .mkdirs(new org.apache.hadoop.fs.Path(s"$root/batch=1.bak"))
    assert(IndexLifecycle.batchDirIds(spark, root).isEmpty,
      "any off-contract batch= name must void the listing (even empty — " +
        "the caller's consistency checks compare dir SETS)")
  }

  test("tailIds: watermark tail sorted; empty off-contract dir skipped") {
    val root = tmp()
    writeBatch(root, -1, 3); writeBatch(root, 0, 2)
    writeBatch(root, 2, 2); writeBatch(root, 1, 2)
    assert(IndexLifecycle.tailIds(spark, root, 0L) === Seq(1L, 2L))
    assert(IndexLifecycle.tailIds(spark, root, Long.MaxValue) === Seq.empty)
    assert(IndexLifecycle.tailIds(spark, s"$root/nope", 0L) === Seq.empty)
    // an EMPTY off-contract dir is a harmless tooling leftover: partition
    // discovery skips it, so the fold can't lose rows — tail unchanged
    fs(new org.apache.hadoop.fs.Path(root))
      .mkdirs(new org.apache.hadoop.fs.Path(s"$root/batch=1.bak"))
    assert(IndexLifecycle.tailIds(spark, root, 0L) === Seq(1L, 2L))
  }

  test("tailIds: file-bearing off-contract dir fails fast (silent-drop guard)") {
    import spark.implicits._
    val root = tmp()
    writeBatch(root, -1, 3); writeBatch(root, 0, 2)
    Seq((999L, "stray")).toDF("k", "s").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/batch=0.bak")
    // the hazard being guarded: the inferred partition column flips to
    // string and a numeric fold filter null-casts every row away
    val inferred = spark.read.parquet(root)
    assert(inferred.schema("batch").dataType ===
      org.apache.spark.sql.types.StringType)
    val ex = intercept[IllegalArgumentException] {
      IndexLifecycle.tailIds(spark, root, 0L)
    }
    assert(ex.getMessage.contains("batch=0.bak"))
  }

  test("compactIndex fails fast on a file-bearing off-contract batch dir " +
      "(Bm25Index + IvfIndex, before any target write)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val bm = tmp()
    Bm25Index.writeIndex(docs, s"$bm/idx")
    Seq(("x", 1L)).toDF("term", "df").coalesce(1)
      .write.mode("overwrite").parquet(s"$bm/idx/df/batch=7.tmp")
    intercept[IllegalArgumentException] {
      Bm25Index.compactIndex(spark, s"$bm/idx", s"$bm/idx2")
    }
    assert(!fs(new org.apache.hadoop.fs.Path(s"$bm/idx2"))
      .exists(new org.apache.hadoop.fs.Path(s"$bm/idx2")),
      "fail-fast must precede any target write")

    val vecs = Seq(
      (1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0),
      (3L, Seq(1.0, 1.0), 2.0), (4L, Seq(0.5, 0.5), 0.5))
      .toDF("vec_id", "v", "norm2")
    val ivf = tmp()
    IvfIndex.writeIndex(vecs, s"$ivf/idx", nlist = 2, iters = 1)
    Seq((9L, Seq(9.0, 9.0), 162.0)).toDF("vec_id", "v", "norm2").coalesce(1)
      .write.mode("overwrite").parquet(s"$ivf/idx/corpus/batch=3.old")
    intercept[IllegalArgumentException] {
      IvfIndex.compactIndex(spark, s"$ivf/idx", s"$ivf/idx2")
    }
    assert(!fs(new org.apache.hadoop.fs.Path(s"$ivf/idx2"))
      .exists(new org.apache.hadoop.fs.Path(s"$ivf/idx2")),
      "fail-fast must precede any target write")
  }

  private def exists(p: String): Boolean =
    fs(new org.apache.hadoop.fs.Path(p)).exists(new org.apache.hadoop.fs.Path(p))

  private def tinyDocs = {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps"), (2L, "over the lazy dog today"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
  }

  private def tinyVecs = {
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0),
      (3L, Seq(1.0, 1.0), 2.0), (4L, Seq(0.5, 0.5), 0.5))
      .toDF("vec_id", "v", "norm2")
  }

  test("appendIndex rejects batch id -1 on all five indexes; the " +
      "bootstrap is unchanged") {
    val planes = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(1.0, -1.0))
    val cases: Seq[(PersistedIndex, String => Unit, () => org.apache.spark.sql.DataFrame)] = Seq(
      (NearDupLsh, p => NearDupLsh.writeIndex(tinyDocs, p), () => tinyDocs.limit(1)),
      (PrefixFilterJoin, p => PrefixFilterJoin.writeIndex(tinyDocs, p, 4, 5),
        () => tinyDocs.limit(1)),
      (Bm25Index, p => Bm25Index.writeIndex(tinyDocs, p), () => tinyDocs.limit(1)),
      (IvfIndex, p => IvfIndex.writeIndex(tinyVecs, p, nlist = 2, iters = 1),
        () => tinyVecs.limit(1)),
      (LshAnnIndex, p => LshAnnIndex.writeIndex(tinyVecs, p, planes, bands = 2),
        () => tinyVecs.limit(1)))
    cases.foreach { case (index, bootstrap, rows) =>
      withClue(s"$index: ") {
        val idx = s"${tmp()}/idx"
        bootstrap(idx)
        def bootstrapRows = spark.read.parquet(index.batchedDirs(idx).head)
          .filter(col("batch") === -1).count()
        val before = bootstrapRows
        val ex = intercept[IllegalArgumentException] {
          index.appendIndex(rows(), idx, -1L)
        }
        assert(ex.getMessage.contains("build owns -1"))
        assert(bootstrapRows === before, "the bootstrap must be untouched")
      }
    }
  }

  test("compactIndex fails fast on a file-bearing off-contract dir under " +
      "an LSH sidecar and IVF drift/, before any target write") {
    import spark.implicits._
    val lsh = tmp()
    NearDupLsh.writeIndex(tinyDocs, s"$lsh/idx")
    NearDupLsh.appendIndex(tinyDocs.limit(1), s"$lsh/idx", 0L)
    Seq((0, 1L, 1L)).toDF("band", "band_hash", "n").coalesce(1)
      .write.mode("overwrite")
      .parquet(s"${NearDupLsh.statsPath(s"$lsh/idx")}/batch=0.bak")
    val lshEx = intercept[IllegalArgumentException] {
      NearDupLsh.compactIndex(spark, s"$lsh/idx", s"$lsh/idx2")
    }
    assert(lshEx.getMessage.contains(
      s"${NearDupLsh.statsPath(s"$lsh/idx")}/batch=0.bak"))
    assert(NearDupLsh.batchedDirs(s"$lsh/idx2").forall(!exists(_)),
      "fail-fast must precede any target write, sidecars included")

    val ivf = tmp()
    IvfIndex.writeIndex(tinyVecs, s"$ivf/idx", nlist = 2, iters = 1)
    Seq((0, 1L, BigDecimal(1))).toDF("centroid_id", "n", "d2_sum").coalesce(1)
      .write.mode("overwrite").parquet(s"$ivf/idx/drift/batch=0.bak")
    val ivfEx = intercept[IllegalArgumentException] {
      IvfIndex.compactIndex(spark, s"$ivf/idx", s"$ivf/idx2")
    }
    assert(ivfEx.getMessage.contains(s"$ivf/idx/drift/batch=0.bak"))
    assert(!exists(s"$ivf/idx2"), "fail-fast must precede any target write")
  }

  test("numeric spark.graft.index knobs: malformed or out-of-range values " +
      "fail naming the key") {
    import spark.implicits._
    import graft.Tunables._
    val root = tmp()
    writeBatch(root, -1, 1)
    val batch = Seq(1L).toDF("doc_id")
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val ppIdx = s"${tmp()}/pp"
    PrefixFilterJoin.writeIndex(docs, ppIdx, 4, 5)
    val catRoot = tmp()
    spark.conf.set("spark.sql.catalog.lccat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lccat.root", catRoot)
    spark.sql("CREATE TABLE lccat.ns.t (id BIGINT)")
    Seq(1L).toDF("id").writeTo("lccat.ns.t").append()
    def maintain() = graft.sources.GraftCatalog.maintain(spark,
      java.nio.file.Paths.get(catRoot, "ns", "t"), spark.table("lccat.ns.t").schema)
    // every numeric tunable, read where the engine reads it
    val readers: Map[Num, () => Any] = Map(
      CompactMinBatches -> (() => IndexLifecycle.compactDue(spark, root, 0L)),
      ServeBroadcastMaxRows -> (() => IndexLifecycle.serveGuard(spark, batch, Some(1L))),
      ServeKeyPruneLimit -> (() => IndexLifecycle.serveKeyPruneLimit(spark)),
      PpjoinServeCandidateBroadcastMaxRows -> (() =>
        PrefixFilterJoin.pairsAgainstIndexWithBound(spark, docs, ppIdx, 4, 5)),
      CcRelabelBroadcastMaxRows -> (() => ConnectedComponents.incremental(
        Seq((1L, 1L)).toDF("id", "component"), Seq((1L, 2L)).toDF("src", "dst"))),
      LshSampledTierMinBytes -> (() => NearDupLsh.pairs(docs, 0.8d)),
      TopkMaxKeysInMemory -> (() => org.apache.spark.sql.graft.GraftPlans
        .topKPerKey(batch, Seq(col("doc_id")), Seq(col("doc_id").asc), 1).collect()),
      RepartitionBytesPerPartition -> (() => AdaptiveWidth.of(batch, 32)),
      ParquetRowGroupBytes -> (() => graft.sources.GraftFormat.resolvedParquetRowGroupBytes()),
      MaintainMaxFiles -> (() => maintain()),
      MaintainSmallBytes -> (() => maintain()),
      SnapshotRetentionMs -> (() => maintain()))
    try {
      assert(readers.keySet == graft.Tunables.all.collect { case n: Num => n }.toSet)
      readers.foreach { case (entry, read) =>
        val key = entry.key
        try {
          val bads = Seq("abc", "1.5", "-1", (entry.min - 1).toString,
            (BigInt(entry.max) + 1).toString)
          bads.foreach { bad =>
            spark.conf.set(key, bad)
            val ex = graft.TunablesSpec.failure(key)(read())
            assert(ex.getMessage.contains(bad), s"$key=$bad: ${ex.getMessage}")
          }
          spark.conf.set(key, entry.min.toString)
          read() // the smallest allowed value parses
        } finally spark.conf.unset(key)
      }
    } finally spark.sql("DROP TABLE lccat.ns.t")
  }

  test("cutBatches: strictly-earlier filter; legacy frame without the column serves whole") {
    import spark.implicits._
    val df = Seq((1L, -1L), (2L, 0L), (3L, 1L)).toDF("k", "batch")
    assert(IndexLifecycle.cutBatches(df, Some(1L)).select(col("k"))
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    assert(IndexLifecycle.cutBatches(df, None).count() === 3)
    val legacy = Seq(1L, 2L).toDF("k")
    assert(IndexLifecycle.cutBatches(legacy, Some(0L)).count() === 2)
  }
}
