package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftQuery, Tables}

/** Text-format source/sink parity: write a table slice out through the
  * engine's CSV / JSON writers, read it back with an explicit schema, and
  * aggregate. The oracle computes the same aggregate straight from the
  * parquet table, so any loss in the write→read roundtrip (quoting,
  * escaping, timestamp rendering, double formatting, null encoding)
  * surfaces as a value mismatch at the gate.
  */
object SourceRoundtrip {

  private val dec6 = DecimalType(38, 6)

  def defs: Seq[GraftQuery] = Seq(

    // CSV: bigint keys, quoted strings, full-precision doubles (shortest
    // repr round-trips exactly), microsecond timestamps.
    GraftQuery(
      "src_csv_roundtrip",
      (s, dir) => {
        val proj = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"))
        val tmp = TempDirs("graft_csv_rt")
        proj.write.mode("overwrite")
          .option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
          .csv(tmp)
        s.read.schema(proj.schema)
          .option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
          .csv(tmp)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            min(col("o_orderdate")).as("first_dt"),
            max(col("o_orderdate")).as("last_dt"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders GROUP BY o_orderstatus")),

    // JSONL: free text through JSON string escaping (documents.text holds
    // whatever the corpus holds), recomputing lengths after the roundtrip.
    GraftQuery(
      "src_json_roundtrip",
      (s, dir) => {
        val proj = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val tmp = TempDirs("graft_json_rt")
        proj.write.mode("overwrite").json(tmp)
        s.read.schema(proj.schema).json(tmp)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast(LongType)).as("chars_total"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(SUM(length(text)) AS BIGINT) AS chars_total, " +
        "CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents GROUP BY lang")),

    // ORC with a Hive-style partitioned layout (the flat-file ORC
    // roundtrip is src_orc_roundtrip in Pipeline.scala). The read filters
    // on the partition column (directory pruning — only matching
    // partitions are listed) plus a data predicate that reaches the ORC
    // reader as a pushed search argument. The oracle replays both
    // predicates on parquet.
    GraftQuery(
      "src_orc_partitioned",
      (s, dir) => {
        val proj = Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_returnflag"))
        val tmp = TempDirs("graft_orc_rt")
        proj.write.mode("overwrite").partitionBy("l_returnflag").orc(tmp)
        s.read.orc(tmp)
          .filter(col("l_returnflag") === "A" && col("l_quantity") >= 25)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast(dec6)).cast(DoubleType).as("qty"),
            sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
              .cast(dec6)).cast(DoubleType).as("revenue"),
            sum(col("l_orderkey")).as("key_sum"))
      },
      Some("SELECT l_returnflag, count(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty, " +
        "CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue, " +
        "CAST(SUM(l_orderkey) AS BIGINT) AS key_sum FROM lineitem " +
        "WHERE l_returnflag = 'A' AND l_quantity >= 25 GROUP BY l_returnflag")),

    // The full catalog lifecycle under the gate: CREATE a graft-json
    // table, INSERT a range-clustered orders slice, DELETE a key band,
    // UPDATE another band (both copy-on-write, stats-planned), then
    // aggregate through a stats-skipped filtered scan. The oracle
    // replays the surviving predicate and the SET arithmetic straight on
    // the parquet table, so a fault anywhere in the write → stats →
    // skip → delete → update → read chain mismatches.
    GraftQuery(
      "src_catalog_roundtrip",
      (s, dir) => {
        val root = TempDirs("graft_cat_rt")
        val cat = s"rt${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.orders " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
          .writeTo(s"$cat.g.orders").append()
        s.sql(s"DELETE FROM $cat.g.orders " +
          "WHERE o_orderkey >= 2000 AND o_orderkey < 4000")
        graft.sources.GraftUpdate.update(s, s"$cat.g.orders",
          col("o_orderkey") >= 5000 && col("o_orderkey") < 6000,
          Map("o_totalprice" -> (col("o_totalprice") + 100.0d)))
        s.table(s"$cat.g.orders")
          .filter(col("o_orderkey") < 8000)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(CASE WHEN o_orderkey >= 5000 AND o_orderkey < 6000 " +
        "THEN o_totalprice + 100.0 ELSE o_totalprice END AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders " +
        "WHERE o_orderkey < 8000 AND NOT (o_orderkey >= 2000 AND o_orderkey < 4000) " +
        "GROUP BY o_orderstatus")),

    // The SAME catalog lifecycle on a PARQUET-backed table
    // (TBLPROPERTIES('format'='parquet') — columnar data files under
    // the identical manifest/commit/stats protocol): CREATE → INSERT →
    // stats-planned DELETE → UPDATE → stats-skipped filtered read. One
    // oracle for both rows; any divergence between the json and parquet
    // format paths (write, scan, DV ordinals, rewrite) mismatches here.
    GraftQuery(
      "src_catalog_parquet_roundtrip",
      (s, dir) => {
        val root = TempDirs("graft_cat_pq_rt")
        val cat = s"rtp${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.orders " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) " +
          "TBLPROPERTIES('format'='parquet')")
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
          .writeTo(s"$cat.g.orders").append()
        s.sql(s"DELETE FROM $cat.g.orders " +
          "WHERE o_orderkey >= 2000 AND o_orderkey < 4000")
        graft.sources.GraftUpdate.update(s, s"$cat.g.orders",
          col("o_orderkey") >= 5000 && col("o_orderkey") < 6000,
          Map("o_totalprice" -> (col("o_totalprice") + 100.0d)))
        s.table(s"$cat.g.orders")
          .filter(col("o_orderkey") < 8000)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(CASE WHEN o_orderkey >= 5000 AND o_orderkey < 6000 " +
        "THEN o_totalprice + 100.0 ELSE o_totalprice END AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders " +
        "WHERE o_orderkey < 8000 AND NOT (o_orderkey >= 2000 AND o_orderkey < 4000) " +
        "GROUP BY o_orderstatus")),

    // Merge-on-read deletion vectors under the gate: two MOR deletes
    // record vectors in the manifest — no data file is rewritten or
    // added (verdict cell: the post-delete file set is a subset of the
    // pre-delete set AND a vector exists) — then the aggregate reads
    // through the vector-subtracting scan, followed by a compaction
    // that materializes the vectors and must reproduce the same rows.
    // The oracle replays both delete predicates straight on parquet.
    GraftQuery(
      "src_mor_delete",
      (s, dir) => {
        val root = TempDirs("graft_mor_gate")
        val cat = s"mor${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.orders " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
          .writeTo(s"$cat.g.orders").append()
        val tdir = java.nio.file.Paths.get(root, "g", "orders")
        val before = graft.sources.Manifest.read(tdir).files.toSet
        s.conf.set(graft.Tunables.DeleteMode.key, "mor")
        try {
          s.sql(s"DELETE FROM $cat.g.orders " +
            "WHERE o_orderkey >= 1000 AND o_orderkey < 3000")
          s.sql(s"DELETE FROM $cat.g.orders " +
            "WHERE o_orderstatus = 'F' AND o_orderkey >= 4000 AND o_orderkey < 5000")
        } finally s.conf.set(graft.Tunables.DeleteMode.key, "cow")
        val after = graft.sources.Manifest.read(tdir).files.toSet
        val morOnly = after.subsetOf(before) &&
          graft.sources.Manifest.read(tdir).dvs.nonEmpty
        val viaVectors = s.table(s"$cat.g.orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            sum(col("o_orderkey")).as("key_sum"),
            lit(if (morOnly) 1L else 0L).as("mor_only"))
        // materialize and re-read: the compacted table must agree
        graft.sources.GraftCatalog.compact(tdir, Some(s.table(s"$cat.g.orders").schema))
        val viaMaterialized = s.table(s"$cat.g.orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            sum(col("o_orderkey")).as("key_sum"),
            lit(1L).as("mor_only"))
        // rows appear once iff both reads produced them identically
        viaVectors.intersect(viaMaterialized)
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(1 AS BIGINT) AS mor_only FROM orders " +
        "WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 3000) " +
        "AND NOT (o_orderstatus = 'F' AND o_orderkey >= 4000 AND o_orderkey < 5000) " +
        "GROUP BY o_orderstatus")),

    // Type-widening schema evolution under the gate: an INT column is
    // appended, widened to BIGINT (metadata-only — the JSON files store
    // numbers as text, so old literals re-parse losslessly), a second
    // generation appends values only a 64-bit type can hold, and the
    // final read chains a stats-skipped filter (> 3e9 prunes every
    // pre-widen file by its min/max range) with a full-table aggregate
    // proving the old int data reads under the widened schema. The
    // oracle replays both generations straight from parquet.
    GraftQuery(
      "src_type_widening",
      (s, dir) => {
        val root = TempDirs("graft_widen")
        val cat = s"tw${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (qty INT, price DOUBLE)")
        Tables.table(s, dir, "lineitem")
          .select(col("l_quantity").cast(IntegerType).as("qty"),
            col("l_extendedprice").as("price"))
          .writeTo(s"$cat.g.t").append()
        s.sql(s"ALTER TABLE $cat.g.t ALTER COLUMN qty TYPE BIGINT")
        Tables.table(s, dir, "orders")
          .filter(col("o_orderkey") < 100)
          .select((col("o_orderkey") + lit(4000000000L)).as("qty"),
            col("o_totalprice").as("price"))
          .writeTo(s"$cat.g.t").append()
        val t = s.table(s"$cat.g.t")
        val wide = t.filter(col("qty") > lit(3000000000L))
          .agg(count(lit(1)).as("n_wide"), sum(col("qty")).as("wide_qty_sum"))
        val total = t.agg(count(lit(1)).as("n_total"), sum(col("qty")).as("qty_sum"))
        wide.crossJoin(total)
      },
      Some("WITH wide AS (SELECT CAST(o_orderkey + 4000000000 AS BIGINT) AS qty " +
        "FROM orders WHERE o_orderkey < 100), " +
        "narrow AS (SELECT CAST(l_quantity AS INT) AS qty FROM lineitem) " +
        "SELECT (SELECT count(*) FROM wide) AS n_wide, " +
        "(SELECT CAST(SUM(qty) AS BIGINT) FROM wide) AS wide_qty_sum, " +
        "(SELECT count(*) FROM wide) + (SELECT count(*) FROM narrow) AS n_total, " +
        "(SELECT CAST(SUM(qty) AS BIGINT) FROM wide) + " +
        "(SELECT CAST(SUM(qty) AS BIGINT) FROM narrow) AS qty_sum")),

    // Snapshot retention under the gate: three appends build history,
    // expireSnapshots(0) drops every snapshot but the latest and sweeps
    // nothing (append-only history: all files live in the latest
    // manifest), and the table + its retained version still read fully.
    // The emitted verdict cells (retained/expired counts, version-read
    // parity) are facts the oracle states from the appended slices.
    GraftQuery(
      "src_expire_snapshots",
      (s, dir) => {
        val root = TempDirs("graft_exp_gate")
        val cat = s"ex${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        Seq((0L, 2000L), (2000L, 4000L), (4000L, 6000L)).foreach { case (lo, hi) =>
          orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
            .writeTo(s"$cat.g.t").append()
        }
        Thread.sleep(20) // snapshot mtimes strictly before the cutoff
        val tableDir = java.nio.file.Paths.get(root, "g", "t")
        val (expired, swept) =
          graft.sources.GraftCatalog.expireSnapshots(tableDir, olderThanMillis = 0L)
        val retained = graft.sources.Manifest.listSnapshots(tableDir)
        val latestRows = s.sql(
          s"SELECT count(*) FROM $cat.g.t VERSION AS OF ${retained.last}")
          .head().getLong(0)
        s.table(s"$cat.g.t")
          .agg(
            count(lit(1)).as("n_total"),
            sum(col("o_orderkey")).as("key_sum"))
          .select(
            col("n_total"), col("key_sum"),
            lit(expired.size.toLong).as("n_expired"),
            lit(retained.size.toLong).as("n_retained"),
            lit(swept.size.toLong).as("n_swept"),
            (col("n_total") === lit(latestRows)).cast("long").as("version_read_ok"))
      },
      Some("SELECT count(*) AS n_total, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(2 AS BIGINT) AS n_expired, CAST(1 AS BIGINT) AS n_retained, " +
        "CAST(0 AS BIGINT) AS n_swept, CAST(1 AS BIGINT) AS version_read_ok " +
        "FROM orders WHERE o_orderkey < 6000")),

    // MERGE INTO under the gate — previously spec-only: one change feed
    // updates a key band (bumped price + a flag), inserts a fresh band,
    // and deletes a band, with schema evolution adding the flag column
    // mid-merge; OPTIMIZE ZORDER BY then rewrites the merged table and
    // the final aggregate (counts per flag, decimal price sum, key sum)
    // must equal the oracle's pure-SQL replay of the same edits on the
    // parquet slice — proving merge semantics, evolution null-fill, and
    // zorder row-preservation in one hash.
    GraftQuery(
      "src_merge_lifecycle",
      (s, dir) => {
        val root = TempDirs("graft_mg_gate")
        val cat = s"mg${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        orders.filter(col("o_orderkey") < 3000).writeTo(s"$cat.g.t").append()
        val updates = orders.filter(col("o_orderkey") < 500)
          .select(col("o_orderkey"),
            (col("o_totalprice") + lit(10.0d)).as("o_totalprice"),
            lit("u").as("flag"), lit("U").as("op"))
        val inserts = orders
          .filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 3500)
          .select(col("o_orderkey"), col("o_totalprice"),
            lit("i").as("flag"), lit("I").as("op"))
        val deletes = orders
          .filter(col("o_orderkey") >= 1500 && col("o_orderkey") < 2000)
          .select(col("o_orderkey"), col("o_totalprice"),
            lit(null).cast("string").as("flag"), lit("D").as("op"))
        graft.sources.GraftMerge.into(s, s"$cat.g.t",
          updates.unionByName(inserts).unionByName(deletes),
          keyCols = Seq("o_orderkey"), evolveSchema = true)
        val nMerged = s.table(s"$cat.g.t").count()
        graft.sources.GraftOptimize.zorderBy(s, s"$cat.g.t",
          "o_orderkey", "o_totalprice", numFiles = 4)
        s.table(s"$cat.g.t")
          .agg(
            count(lit(1)).as("n_total"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("price_sum"),
            count(when(col("flag") === "u", 1)).as("n_upd"),
            count(when(col("flag") === "i", 1)).as("n_ins"),
            count(when(col("flag").isNull, 1)).as("n_plain"))
          .select(col("n_total"), col("key_sum"), col("price_sum"),
            col("n_upd"), col("n_ins"), col("n_plain"),
            (col("n_total") === lit(nMerged)).cast("long").as("zorder_preserved"))
      },
      Some("WITH m AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey < 500 THEN o_totalprice + 10.0 ELSE o_totalprice END AS price, " +
        "CASE WHEN o_orderkey < 500 THEN 'u' " +
        "WHEN o_orderkey >= 3000 THEN 'i' END AS flag " +
        "FROM orders WHERE (o_orderkey < 3000 AND " +
        "NOT (o_orderkey >= 1500 AND o_orderkey < 2000)) " +
        "OR (o_orderkey >= 3000 AND o_orderkey < 3500)) " +
        "SELECT count(*) AS n_total, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS price_sum, " +
        "count(*) FILTER (WHERE flag = 'u') AS n_upd, " +
        "count(*) FILTER (WHERE flag = 'i') AS n_ins, " +
        "count(*) FILTER (WHERE flag IS NULL) AS n_plain, " +
        "CAST(1 AS BIGINT) AS zorder_preserved FROM m")),

    // Write-audit-publish branch lifecycle under the gate: base rows on
    // main, candidate rows staged on a branch (invisible to main), the
    // audit read via VERSION AS OF '<branch>', then an atomic
    // fast-forward publish. The row checks: main-before sees only base,
    // the branch sees base+staged, main-after equals the branch exactly,
    // and a publish against an advanced main fails without changing
    // anything (asserted in WapBranchSpec; here the oracle pins the
    // before/after counts and key sums the lifecycle must produce).
    GraftQuery(
      "src_wap_publish",
      (s, dir) => {
        val root = TempDirs("graft_wap_gate")
        val cat = s"wp${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        orders.filter(col("o_orderkey") % 7 === 0).writeTo(s"$cat.g.t").append()
        val tableDir = java.nio.file.Paths.get(root, "g", "t")
        graft.sources.GraftCatalog.createBranch(tableDir, "audit")
        orders.filter(col("o_orderkey") % 7 === 1)
          .writeTo(s"$cat.g.t").option("branch", "audit").append()
        val mainBefore = s.table(s"$cat.g.t")
          .agg(count(lit(1)), sum(col("o_orderkey"))).head()
        val branchSeen = s.sql(s"SELECT count(*), CAST(sum(o_orderkey) AS BIGINT) " +
          s"FROM $cat.g.t VERSION AS OF 'audit'").head()
        graft.sources.GraftCatalog.publishBranch(tableDir, "audit")
        s.table(s"$cat.g.t")
          .agg(
            count(lit(1)).as("n_after"),
            sum(col("o_orderkey")).as("key_sum_after"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("price_sum_after"))
          .select(
            lit(mainBefore.getLong(0)).as("n_main_before"),
            lit(mainBefore.getLong(1)).as("key_sum_before"),
            lit(branchSeen.getLong(0)).as("n_branch"),
            lit(branchSeen.getLong(1)).as("key_sum_branch"),
            col("n_after"), col("key_sum_after"), col("price_sum_after"))
      },
      Some("SELECT " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0) AS n_main_before, " +
        "(SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 7 = 0) AS key_sum_before, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 7 <= 1) AS n_branch, " +
        "(SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 7 <= 1) AS key_sum_branch, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 7 <= 1) AS n_after, " +
        "(SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 7 <= 1) AS key_sum_after, " +
        "(SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) " +
        "FROM orders WHERE o_orderkey % 7 <= 1) AS price_sum_after")),

    // Row-level UPDATE under the gate (completing the DML family next
    // to src_mor_delete and src_merge_lifecycle): copy-on-write rewrite
    // of only the files whose stats admit matching rows; the SET
    // expression evaluates against the pre-update row. The multiply is
    // the same IEEE op on the same inputs in both engines, so the
    // decimal-summed totals hash-match exactly.
    GraftQuery(
      "src_update_lifecycle",
      (s, dir) => {
        val root = TempDirs("graft_upd_gate")
        val cat = s"up${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)")
        Tables.table(s, dir, "orders")
          .filter(col("o_orderkey") < 4000)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .writeTo(s"$cat.g.t").append()
        graft.sources.GraftUpdate.update(s, s"$cat.g.t",
          col("o_orderstatus") === "O",
          Map("o_totalprice" -> (col("o_totalprice") * lit(1.1d))))
        s.table(s"$cat.g.t")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("price_sum"),
            count(when(col("o_orderstatus") === "O", 1)).as("n_open"))
      },
      Some("SELECT count(*) AS n_rows, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 " +
        "ELSE o_totalprice END AS DECIMAL(38,6))) AS DOUBLE) AS price_sum, " +
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open " +
        "FROM orders WHERE o_orderkey < 4000")),

    // Small-file compaction under the gate: six trickle appends leave six
    // tiny files; compactSmall bin-packs them into one as a
    // history-preserving commit. The verdict cells pin the file counts,
    // the pre-compaction snapshot's readability, and the table aggregate
    // after the rewrite — the oracle states all of them from the same
    // orders slice.
    GraftQuery(
      "src_compact_small",
      (s, dir) => {
        val root = TempDirs("graft_cs_gate")
        val cat = s"cs${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 until 6).foreach { i =>
          orders.filter(col("o_orderkey") >= i * 500 && col("o_orderkey") < (i + 1) * 500)
            .coalesce(1).writeTo(s"$cat.g.t").append()
        }
        val tableDir = java.nio.file.Paths.get(root, "g", "t")
        val preSnap = graft.sources.Manifest.listSnapshots(tableDir).last
        val (nBefore, nAfter) = graft.sources.GraftCatalog.compactSmall(
          tableDir, s.table(s"$cat.g.t").schema,
          minBytes = 10L << 20, targetBytes = 64L << 20)
        val preRows = s.sql(
          s"SELECT count(*) FROM $cat.g.t VERSION AS OF $preSnap").head().getLong(0)
        s.table(s"$cat.g.t")
          .agg(
            count(lit(1)).as("n_total"),
            sum(col("o_orderkey")).as("key_sum"))
          .select(col("n_total"), col("key_sum"),
            lit(nBefore.toLong).as("files_before"),
            lit(nAfter.toLong).as("files_after"),
            (col("n_total") === lit(preRows)).cast("long").as("history_read_ok"))
      },
      Some("SELECT count(*) AS n_total, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, " +
        "CAST(6 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after, " +
        "CAST(1 AS BIGINT) AS history_read_ok " +
        "FROM orders WHERE o_orderkey < 3000")),

    // TIMESTAMP AS OF under the gate: two appends with a captured
    // instant between them; the timestamp read resolves to the first
    // snapshot and its count/sum land as value cells the oracle computes
    // from the same key slice — so timestamp→snapshot resolution itself
    // is what's being hashed, not just "some rows came back".
    GraftQuery(
      "src_timestamp_travel",
      (s, dir) => {
        val root = TempDirs("graft_ts_gate")
        val cat = s"tt${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        orders.filter(col("o_orderkey") < 3000).writeTo(s"$cat.g.t").append()
        Thread.sleep(20) // mtimes strictly before the captured instant
        val mid = java.time.Instant.now()
        Thread.sleep(20)
        orders.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 6000)
          .writeTo(s"$cat.g.t").append()
        val tsLit = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC).format(mid)
        s.sql(s"SELECT count(*) AS n_at_ts, " +
          s"CAST(SUM(o_orderkey) AS BIGINT) AS key_sum_at_ts " +
          s"FROM $cat.g.t TIMESTAMP AS OF '$tsLit'")
          .crossJoin(s.table(s"$cat.g.t").agg(count(lit(1)).as("n_now")))
      },
      Some("SELECT count(*) FILTER (WHERE o_orderkey < 3000) AS n_at_ts, " +
        "CAST(SUM(o_orderkey) FILTER (WHERE o_orderkey < 3000) AS BIGINT) AS key_sum_at_ts, " +
        "count(*) AS n_now FROM orders WHERE o_orderkey < 6000")),

    // RENAME COLUMN under the gate: files written before the rename keep
    // the old key on disk; the read — with a filter AND an aggregate on
    // the renamed column spanning pre- and post-rename files — must see
    // one coherent column. The oracle computes the same numbers straight
    // from the parquet slice, so a reader that null-fills old files (the
    // naive by-name bind) mismatches immediately.
    GraftQuery(
      "src_rename_column",
      (s, dir) => {
        val root = TempDirs("graft_rn_gate")
        val cat = s"rn${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        orders.filter(col("o_orderkey") < 3000).writeTo(s"$cat.g.t").append()
        s.sql(s"ALTER TABLE $cat.g.t RENAME COLUMN o_totalprice TO price")
        orders.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 6000)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
          .writeTo(s"$cat.g.t").append()
        s.table(s"$cat.g.t")
          .filter(col("price") > 100000.0d)
          .agg(
            count(lit(1)).as("n"),
            sum(col("price").cast(dec6)).cast(DoubleType).as("price_sum"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("SELECT count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price_sum, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders " +
        "WHERE o_orderkey < 6000 AND o_totalprice > 100000.0")),

    // Bucketed tables: both sides written bucketBy(8) on the join key —
    // Spark's bucket layout IS a persisted HashPartitioning (pmod of the
    // same Murmur3 hash), so the sort-merge join needs NO Exchange on
    // either side (PlanGuardSpec asserts). Each write repartitions by the
    // identical hash first, so every task holds exactly one bucket → one
    // file per bucket, which also lets the scan satisfy the join's sort
    // requirement from the sortBy order. At 100 TB this is the fact-fact
    // join strategy: pay the shuffle once at layout time, never at read.
    GraftQuery(
      "src_bucketed_join",
      (s, dir) => {
        val root = TempDirs("graft_bkt")
        val db = s"bkt${System.nanoTime()}"
        s.sql(s"CREATE DATABASE $db LOCATION '$root'")
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(8, col("o_custkey"))
          .write.mode("overwrite")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable(s"$db.orders_b")
        Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .repartition(8, col("c_custkey"))
          .write.mode("overwrite")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable(s"$db.customer_b")
        s.table(s"$db.orders_b").hint("merge")
          .join(s.table(s"$db.customer_b"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment")),

    // Storage-partitioned join through the catalog: both tables
    // identity-partitioned on nationkey; with v2 bucketing on, the scans
    // report KeyGroupedPartitioning and the join runs with NO shuffle on
    // either side — the lakehouse equivalent of bucketed tables
    // (PlanGuardSpec asserts the plan shape).
    GraftQuery(
      "src_partitioned_join",
      (s, dir) => {
        val root = TempDirs("graft_spjq")
        val cat = s"spj${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.cust (c_custkey BIGINT, c_nationkey BIGINT) " +
          "PARTITIONED BY (c_nationkey)")
        s.sql(s"CREATE TABLE $cat.g.supp (s_suppkey BIGINT, s_nationkey BIGINT, " +
          "s_acctbal DOUBLE) PARTITIONED BY (s_nationkey)")
        Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
          .writeTo(s"$cat.g.cust").append()
        Tables.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .writeTo(s"$cat.g.supp").append()
        // enable v2 bucketing for THIS plan only — the gate shares one
        // session across queries, so leaked conf would make later plans
        // order-dependent. The conf is read at planning: resolve the
        // DataFrame eagerly, then restore.
        val prevBkt = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        // the scan now reports real statistics, so these small tables
        // would auto-broadcast and bypass the SPJ path this gate exists
        // to exercise — disable broadcast for this plan only
        val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val joined = s.table(s"$cat.g.cust")
            .join(s.table(s"$cat.g.supp"),
              col("c_nationkey") === col("s_nationkey"))
            .groupBy(col("c_nationkey"))
            .agg(
              count(lit(1)).as("n_pairs"),
              sum(col("s_acctbal").cast(dec6)).cast(DoubleType).as("bal_sum"))
          joined.queryExecution.executedPlan // force planning under the conf
          joined
        } finally {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
          prevBkt match {
            case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
        }
      },
      Some("SELECT c_nationkey, count(*) AS n_pairs, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal_sum " +
        "FROM customer JOIN supplier ON c_nationkey = s_nationkey " +
        "GROUP BY c_nationkey")),

    // Per-file Bloom index under the gate: four appends INTERLEAVED on
    // o_orderkey % 8 give every file a min/max range spanning the whole
    // key space — range skipping provably keeps all 4 files for any
    // equality. After buildBloomIndex, a present-key lookup plans exactly
    // the one holding file and an absent-but-in-range key plans zero;
    // both planned-file counts land as verdict cells (deterministic:
    // fixed data, seeded xxhash64), alongside the lookups' row values
    // the oracle replays from parquet.
    GraftQuery(
      "src_bloom_skip",
      (s, dir) => {
        val root = TempDirs("graft_bloom_gate")
        val cat = s"bl${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val orders = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .filter(col("o_orderkey") < 6000)
        (0 until 4).foreach { r =>
          orders.filter(pmod(col("o_orderkey"), lit(8)) === r)
            .coalesce(1).writeTo(s"$cat.g.t").append()
        }
        val tableDir = java.nio.file.Paths.get(root, "g", "t")
        graft.sources.GraftCatalog.buildBloomIndex(
          tableDir, s.table(s"$cat.g.t").schema, Seq("o_orderkey"))
        def planned(df: org.apache.spark.sql.DataFrame): Long = {
          df.collect()
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          def scan(p: SparkPlan): Seq[BatchScanExec] = p match {
            case a: AdaptiveSparkPlanExec => scan(a.executedPlan)
            case q: QueryStageExec => scan(q.plan)
            case b: BatchScanExec => Seq(b)
            case other => other.children.flatMap(scan)
          }
          scan(df.queryExecution.executedPlan).map(_.inputPartitions.size).sum.toLong
        }
        // 1001 % 8 = 1 → lives in exactly the r=1 file; 12 % 8 = 4 → in
        // range but never written
        val hit = s.table(s"$cat.g.t").filter(col("o_orderkey") === 1001L)
        val miss = s.table(s"$cat.g.t").filter(col("o_orderkey") === 12L)
        val keptHit = planned(hit)
        val keptMiss = planned(miss)
        hit.agg(
            count(lit(1)).as("n_hit"),
            max(col("o_totalprice")).as("hit_price"))
          .crossJoin(miss.agg(count(lit(1)).as("n_miss")))
          .select(col("n_hit"), col("hit_price"), col("n_miss"),
            lit(4L).as("files_total"),
            lit(keptHit).as("files_kept_hit"),
            lit(keptMiss).as("files_kept_miss"))
      },
      Some("SELECT count(*) FILTER (WHERE o_orderkey = 1001) AS n_hit, " +
        "MAX(o_totalprice) FILTER (WHERE o_orderkey = 1001) AS hit_price, " +
        "count(*) FILTER (WHERE o_orderkey = 12) AS n_miss, " +
        "CAST(4 AS BIGINT) AS files_total, CAST(1 AS BIGINT) AS files_kept_hit, " +
        "CAST(0 AS BIGINT) AS files_kept_miss " +
        "FROM orders WHERE o_orderkey < 6000 AND o_orderkey % 8 < 4")),

    // The catalog table as a STREAMING SOURCE: three append commits land
    // as three micro-batches (snapshot-diff offsets), aggregated through
    // Structured Streaming in complete mode. The oracle aggregates the
    // same slice straight from parquet — a dropped or double-read batch
    // mismatches the totals.
    GraftQuery(
      "src_table_stream",
      (s, dir) => {
        val root = TempDirs("graft_tstr")
        val cat = s"ts${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.orders " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        val slice = Tables.table(s, dir, "orders")
          .filter(col("o_orderkey") < 6000)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        Seq(0L, 2000L, 4000L).foreach { lo =>
          slice.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + 2000)
            .writeTo(s"$cat.g.orders").append()
        }
        graft.streaming.Streams.drain(s.readStream.table(s"$cat.g.orders")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            sum(col("o_orderkey")).as("key_sum")), "complete")
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders " +
        "WHERE o_orderkey < 6000 GROUP BY o_orderstatus")),

    // Manifest-derived scan statistics under the gate: a 25-row dimension
    // stored as a graft table joins customer parquet with NO hint, and
    // the cost-based planner must pick BroadcastHashJoin with the GRAFT
    // side as the build side — possible only because the scan reports
    // real size/rows (SupportsReportStatistics); without them the table
    // prices at defaultSizeInBytes and the parquet side would build (or
    // the join would sort-merge). The build-side check walks the executed
    // plan; its boolean lands as a verdict cell next to the join values
    // the oracle replays from parquet.
    GraftQuery(
      "src_stats_broadcast",
      (s, dir) => {
        val root = TempDirs("graft_stats_bc")
        val cat = s"sb${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.nat (n_nationkey BIGINT, n_name STRING)")
        Tables.table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
          .coalesce(1).writeTo(s"$cat.g.nat").append()
        val joined = Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
          .join(s.table(s"$cat.g.nat"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("c_acctbal").cast(dec6)).cast(DoubleType).as("bal_sum"))
        joined.collect() // finalize the adaptive plan before walking it
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        def containsGraftScan(p: SparkPlan): Boolean = p match {
          case a: AdaptiveSparkPlanExec => containsGraftScan(a.executedPlan)
          case q: QueryStageExec => containsGraftScan(q.plan)
          case b: BatchScanExec => b.scan.description().contains("graft-json")
          case other => other.children.exists(containsGraftScan)
        }
        def graftBuilds(p: SparkPlan): Boolean = p match {
          case a: AdaptiveSparkPlanExec => graftBuilds(a.executedPlan)
          case q: QueryStageExec => graftBuilds(q.plan)
          case b: BroadcastHashJoinExec =>
            val build = b.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
              case _ => b.right
            }
            containsGraftScan(build) || b.children.exists(graftBuilds)
          case other => other.children.exists(graftBuilds)
        }
        val ok = graftBuilds(joined.queryExecution.executedPlan)
        joined.select(col("n_name"), col("n_cust"), col("bal_sum"),
          lit(ok).as("graft_broadcast"))
      },
      Some("SELECT n_name, count(*) AS n_cust, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal_sum, " +
        "TRUE AS graft_broadcast " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name")),

    // Aggregate pushdown under the gate: global count/min/max over a
    // multi-file graft table must be answered from the manifest + stats
    // sidecar — the executed plan's scan says "pushed aggregation" and
    // that boolean lands as a verdict cell; the VALUES are replayed by
    // the oracle straight from parquet, so a wrong fold (null handling,
    // byte-order string extremes, double exactness) mismatches even
    // though no data file was opened on the Spark side.
    GraftQuery(
      "src_agg_pushdown",
      (s, dir) => {
        val root = TempDirs("graft_aggp_gate")
        val cat = s"ap${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .filter(col("o_orderkey") < 6000)
          .repartitionByRange(4, col("o_orderkey"))
          .writeTo(s"$cat.g.t").append()
        val agg = s.sql("SELECT count(*) AS n, " +
          "min(o_orderkey) AS k_min, max(o_orderkey) AS k_max, " +
          "count(o_orderstatus) AS n_status, " +
          "min(o_orderstatus) AS s_min, max(o_orderstatus) AS s_max, " +
          "min(o_totalprice) AS p_min, max(o_totalprice) AS p_max " +
          s"FROM $cat.g.t")
        val pushed = agg.queryExecution.executedPlan.toString
          .contains("pushed aggregation")
        agg.select(col("*"), lit(pushed).as("agg_pushed"))
      },
      Some("SELECT count(*) AS n, " +
        "min(o_orderkey) AS k_min, max(o_orderkey) AS k_max, " +
        "count(o_orderstatus) AS n_status, " +
        "min(o_orderstatus) AS s_min, max(o_orderstatus) AS s_max, " +
        "min(o_totalprice) AS p_min, max(o_totalprice) AS p_max, " +
        "TRUE AS agg_pushed FROM orders WHERE o_orderkey < 6000")))
}
