package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftQuery, Tables}
import graft.operators.PrefixSum

/** Training-data pipeline operators, wave 4: repetition-based quality
  * filtering (Gopher-style), intra-document dedup, sequence packing for
  * context windows, deterministic source mixing, and an ORC roundtrip.
  *
  * Everything except the two tiny per-doc re-aggregations is narrow
  * per-row array work on codegen'd builtins; the aggregations are
  * doc_id-keyed (high-cardinality, uniform) hash aggregates with
  * map-side partials — the shapes that scale linearly to 100 TB.
  */
object Pipeline {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  // ---- quadratic-oracle query bodies, shared by the full-corpus entry
  // and its `_sliced` sweep companion (see Dedup.sliceSpark) ------------

  private def leakSafeSplitQ(s: SparkSession, documents: DataFrame): DataFrame = {
    val docs = documents
      .transform(graft.operators.AdaptiveWidth.spread)
      .select(col("doc_id"), col("text"))
    val pairs = graft.operators.PrefixFilterJoin.pairs(docs, num = 4, den = 5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.operators.ConnectedComponents.run(pairs)
      .select(col("id").as("doc_id"), col("component"))
    val canon = docs.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical"))
    val b = substring(
      md5(concat(lit("split:"), col("canonical").cast(StringType))), 1, 2)
    canon.select(col("doc_id"), col("canonical"),
      when(b < "fa", "train").when(b < "fd", "val")
        .otherwise("test").as("split"))
  }

  private val leakSafeSplitOracle: String =
    "WITH RECURSIVE t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, ${Dedup.shingleSetSql} AS sh FROM t), " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND " +
      "len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8), " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION SELECT doc_b, doc_a FROM pairs), " +
      "comp(node, lbl) AS (" +
      "SELECT src, src FROM edges " +
      "UNION " +
      "SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.node), " +
      "cc AS (SELECT node AS doc_id, min(lbl) AS component FROM comp GROUP BY node), " +
      "canon AS (SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS canonical " +
      "FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id) " +
      "SELECT doc_id, canonical, CASE " +
      "WHEN substr(md5('split:' || CAST(canonical AS VARCHAR)), 1, 2) < 'fa' THEN 'train' " +
      "WHEN substr(md5('split:' || CAST(canonical AS VARCHAR)), 1, 2) < 'fd' THEN 'val' " +
      "ELSE 'test' END AS split FROM canon"

  private def dedupFunnelQ(s: SparkSession, documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    val keepers = docs
      .groupBy(md5(col("text")).as("sig"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val survivors = docs.join(keepers, Seq("doc_id"))
      .transform(graft.operators.AdaptiveWidth.spread)
    val pairs = graft.operators.PrefixFilterJoin
      .pairs(survivors, num = 4, den = 5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.operators.ConnectedComponents.run(pairs)
      .select(col("id").as("doc_id"), col("component"))
    val canon = survivors.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("canonical"))
    val stages = canon.agg(
      count(lit(1)).as("n_after_exact"),
      countDistinct(col("canonical")).as("n_after_near"))
    docs.agg(count(lit(1)).as("n_raw")).crossJoin(stages)
      .select(col("n_raw"), col("n_after_exact"), col("n_after_near"),
        (col("n_after_near").cast("double") / col("n_raw").cast("double"))
          .as("kept_ratio"))
  }

  private val dedupFunnelOracle: String =
    "WITH RECURSIVE raw AS (SELECT count(*) AS n_raw FROM documents), " +
      "surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), " +
      "t AS (SELECT d.doc_id, string_split(d.text, ' ') AS tokens " +
      "FROM documents d JOIN surv USING (doc_id)), " +
      s"sh AS (SELECT doc_id, ${Dedup.shingleSetSql} AS sh FROM t), " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND " +
      "len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8), " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION SELECT doc_b, doc_a FROM pairs), " +
      "comp(node, lbl) AS (" +
      "SELECT src, src FROM edges " +
      "UNION " +
      "SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.node), " +
      "cc AS (SELECT node AS doc_id, min(lbl) AS component FROM comp GROUP BY node), " +
      "canon AS (SELECT t.doc_id, COALESCE(cc.component, t.doc_id) AS canonical " +
      "FROM t LEFT JOIN cc ON t.doc_id = cc.doc_id), " +
      "f AS (SELECT count(*) AS n_after_exact, " +
      "count(DISTINCT canonical) AS n_after_near FROM canon) " +
      "SELECT n_raw, n_after_exact, n_after_near, " +
      "CAST(n_after_near AS DOUBLE) / CAST(n_raw AS DOUBLE) AS kept_ratio " +
      "FROM raw, f"

  def defs: Seq[GraftQuery] = Seq(

    // Repetition/quality stats per document — the Gopher-rules family:
    // distinct-word fraction, duplicate-bigram fraction, mean word
    // length, most-frequent-word fraction, and the resulting keep flag.
    // Fractions are single IEEE divides of exact integer counts, so
    // values are bit-identical across engines. The top-word count is the
    // only shuffled piece: (doc_id, word) hash agg with map-side combine
    // then a per-doc max — both keyed on high-cardinality uniform keys.
    GraftQuery(
      "txt_gopher_quality",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val w = split(col("text"), " ")
        val base = docs
          .select(col("doc_id"), w.as("w"))
          .filter(size(col("w")) >= 2)
          .withColumn("n", size(col("w")).cast(LongType))
          .withColumn("nd", size(array_distinct(col("w"))).cast(LongType))
          .withColumn("lensum",
            expr("aggregate(w, 0L, (acc, x) -> acc + length(x))"))
          .withColumn("bg", expr(
            "transform(sequence(0, size(w) - 2), " +
              "i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
          .withColumn("nbg", size(col("bg")).cast(LongType))
          .withColumn("nbgd", size(array_distinct(col("bg"))).cast(LongType))
        val top = docs
          .select(col("doc_id"), explode(w).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("topc"))
        base.join(top, "doc_id")
          .select(
            col("doc_id"),
            col("n").as("n_words"),
            (col("nd").cast(DoubleType) / col("n")).as("distinct_frac"),
            (lit(1.0) - col("nbgd").cast(DoubleType) / col("nbg"))
              .as("dup_bigram_frac"),
            (col("lensum").cast(DoubleType) / col("n")).as("mean_word_len"),
            (col("topc").cast(DoubleType) / col("n")).as("top_word_frac"),
            (col("nd").cast(DoubleType) / col("n") >= 0.3 &&
              col("topc").cast(DoubleType) / col("n") <= 0.2).as("keep"))
      },
      Some("WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n, " +
        "CAST(len(list_distinct(w)) AS BIGINT) AS nd, " +
        "CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS lensum, " +
        "list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1]) AS bg " +
        "FROM d WHERE len(w) >= 2), " +
        "tw AS (SELECT doc_id, max(c) AS topc FROM " +
        "(SELECT doc_id, word, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY doc_id, word) GROUP BY doc_id) " +
        "SELECT b.doc_id, b.n AS n_words, " +
        "CAST(nd AS DOUBLE) / n AS distinct_frac, " +
        "1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE) AS dup_bigram_frac, " +
        "CAST(lensum AS DOUBLE) / n AS mean_word_len, " +
        "CAST(topc AS DOUBLE) / n AS top_word_frac, " +
        "(CAST(nd AS DOUBLE) / n >= 0.3 AND CAST(topc AS DOUBLE) / n <= 0.2) AS keep " +
        "FROM base b JOIN tw USING (doc_id)")),

    // Intra-document dedup: drop repeated tokens keeping the first
    // occurrence (the line/paragraph-dedup step of a corpus pipeline at
    // token granularity). Pure narrow array work on the Spark side —
    // array_distinct preserves first-occurrence order — zero shuffles.
    GraftQuery(
      "dd_intradoc_dedup",
      (s, dir) => {
        val w = split(col("text"), " ")
        Tables.table(s, dir, "documents").select(
          col("doc_id"),
          array_join(array_distinct(w), " ").as("dedup_text"),
          (size(w) - size(array_distinct(w))).cast(LongType).as("n_removed"))
      },
      Some("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word, " +
        "generate_subscripts(string_split(text, ' '), 1) AS ord FROM documents), " +
        "f AS (SELECT doc_id, word, min(ord) AS fp FROM t GROUP BY doc_id, word), " +
        "n AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents) " +
        "SELECT f.doc_id, string_agg(f.word, ' ' ORDER BY f.fp) AS dedup_text, " +
        "CAST(any_value(n.n) - count(*) AS BIGINT) AS n_removed " +
        "FROM f JOIN n ON f.doc_id = n.doc_id GROUP BY f.doc_id")),

    // Sliding-window chunking: split each document into 128-token chunks
    // with a 96-token stride (32-token overlap) — the per-document
    // complement to sequence packing below, used when examples must not
    // cross document boundaries. Pure generator work (sequence +
    // posexplode), no shuffle at all: chunking 100 TB is map-only.
    GraftQuery(
      "pipe_chunk_overlap",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0),
            greatest(size(col("toks")) - 1, lit(0)), lit(96)))
            .as(Seq("chunk_id", "st")))
        .select(col("doc_id"), col("chunk_id"),
          array_join(slice(col("toks"), col("st") + 1, lit(128)), " ").as("chunk"),
          least(lit(128), size(col("toks")) - col("st")).as("chunk_tokens")),
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, toks, " +
        "UNNEST(generate_series(0, GREATEST(len(toks) - 1, 0), 96)) AS st FROM t) " +
        "SELECT doc_id, st // 96 AS chunk_id, " +
        "array_to_string(list_slice(toks, st + 1, st + 128), ' ') AS chunk, " +
        "CAST(LEAST(128, len(toks) - st) AS INT) AS chunk_tokens FROM s")),

    // Sequence packing: concatenate the corpus in doc_id order and chop
    // it into fixed 256-token context windows — each document learns its
    // start offset, covering window range, and whether it straddles a
    // boundary. The global running total uses the distributed prefix-sum
    // operator (range partition + broadcast offsets), NOT a global
    // window, so no single partition ever holds the corpus.
    // Windows count REAL BPE tokens under the frozen vocab (the packer
    // must budget in the tokens the model actually consumes); oracle
    // replays the merges in SQL.
    GraftQuery(
      "pipe_seq_packing",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            size(graft.functions.GraftFunctions.bpe_encode(
              col("text"), graft.functions.BpeVocab.Default))
              .cast(LongType).as("n_tok"))
        PrefixSum.runningTotal(docs, Seq(col("doc_id")), col("n_tok"), "cum_tok")
          .select(
            col("doc_id"), col("n_tok"),
            (col("cum_tok") - col("n_tok")).as("start_tok"),
            expr("(cum_tok - n_tok) div 256").as("first_win"),
            expr("(cum_tok - 1) div 256").as("last_win"))
          .withColumn("n_windows", col("last_win") - col("first_win") + 1)
      },
      Some("WITH b AS (SELECT doc_id, " +
        graft.functions.BpeEncode.oracleCountSql(
          graft.functions.BpeVocab.Default, "text") +
        " AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, n_tok, " +
        "CAST(SUM(n_tok) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok " +
        "FROM b) " +
        "SELECT doc_id, n_tok, cum_tok - n_tok AS start_tok, " +
        "(cum_tok - n_tok) // 256 AS first_win, (cum_tok - 1) // 256 AS last_win, " +
        "(cum_tok - 1) // 256 - (cum_tok - n_tok) // 256 + 1 AS n_windows FROM c")),

    // Deterministic source mixing: each source family gets a sampling
    // rate (5/10/20/40% by source number mod 4) and rows are kept by an
    // md5-threshold draw — reproducible across engines, runs, and
    // partitionings, unlike seeded RNG. This is the "mix web : code :
    // books at fixed ratios" step of a training-data pipeline.
    GraftQuery(
      "pipe_mix_sources",
      (s, dir) => {
        val srcNum = substring(col("source"), 4, 10).cast(IntegerType)
        val thr = when(srcNum % 4 === 0, "0c")
          .when(srcNum % 4 === 1, "19")
          .when(srcNum % 4 === 2, "33")
          .otherwise("66")
        Tables.table(s, dir, "documents")
          .withColumn("bucket", substring(md5(col("doc_id").cast(StringType)), 1, 2))
          .filter(col("bucket") < thr)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("key_sum"))
      },
      Some("WITH k AS (SELECT source, doc_id, " +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket, " +
        "CAST(substr(source, 4) AS INT) % 4 AS g FROM documents) " +
        "SELECT source, count(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS key_sum " +
        "FROM k WHERE bucket < (CASE g WHEN 0 THEN '0c' WHEN 1 THEN '19' " +
        "WHEN 2 THEN '33' ELSE '66' END) GROUP BY source")),

    // Blocklist decontamination: remove every document whose text
    // fingerprint appears in a blocklist (here: docs with doc_id % 7 = 0
    // standing in for eval-set fingerprints), via the bloom-prefiltered
    // exact anti-join — row-identical to a plain anti-join, but at scale
    // only bloom-positive candidates ever shuffle.
    GraftQuery(
      "dd_bloom_blocklist",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val fp = md5(col("text"))
        val blocklist = docs.filter(col("doc_id") % 7 === 0).select(fp.as("bfp"))
        graft.operators.BloomAntiJoin
          .antiJoin(docs.withColumn("fp", fp), col("fp"), blocklist, col("bfp"),
            expectedItems = 1000L, numBits = 65536L)
          .select(col("doc_id"), col("source"))
      },
      Some("SELECT doc_id, source FROM documents WHERE md5(text) NOT IN " +
        "(SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)"),
      bench = true),

    // Large-to-large point-in-interval join via bin equi-join: order
    // dates against per-lineitem availability windows ([shipdate,
    // shipdate + quantity%30 days]). A naive BETWEEN join of two big
    // sides planned as nested-loop/cartesian is the O(n·m) cliff;
    // BinnedRangeJoin makes it a shuffled equi-join on 16-day bins.
    // The oracle is the naive join — results must be row-identical.
    GraftQuery(
      "q_range_join_binned",
      (s, dir) => {
        val day = 86400000000L
        val ivs = Tables.table(s, dir, "lineitem")
          .filter(col("l_suppkey") % 50 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            unix_micros(col("l_shipdate").cast("timestamp")).as("s_us"),
            (unix_micros(col("l_shipdate").cast("timestamp")) +
              (col("l_quantity").cast(LongType) % 30) * day).as("e_us"))
        val pts = Tables.table(s, dir, "orders")
          .filter(col("o_orderkey") % 20 === 0)
          .select(col("o_orderkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("p_us"))
        graft.operators.BinnedRangeJoin
          .pointInInterval(pts, col("p_us"), ivs, col("s_us"), col("e_us"),
            binWidth = 16 * day)
          .select(col("l_orderkey"), col("l_linenumber"), col("o_orderkey"))
      },
      Some("SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey " +
        "FROM lineitem l JOIN orders o ON o.o_orderdate >= l.l_shipdate " +
        "AND o.o_orderdate <= l.l_shipdate + to_days(CAST(floor(l_quantity) AS INT) % 30) " +
        "WHERE l.l_suppkey % 50 = 0 AND o.o_orderkey % 20 = 0"),
      bench = true),

    // Interval OVERLAP join (both sides are intervals — the temporal
    // shape of sessions × incidents): the same binned equi-join rewrite,
    // with each overlapping pair pinned to the single bin holding the
    // later of the two starts so no dedup is needed. Oracle is the
    // naive quadratic join; results must be row-identical.
    GraftQuery(
      "q_interval_overlap",
      (s, dir) => {
        val day = 86400000000L
        val ship = Tables.table(s, dir, "lineitem")
          .filter(col("l_suppkey") % 50 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            unix_micros(col("l_shipdate").cast("timestamp")).as("ls_us"),
            (unix_micros(col("l_shipdate").cast("timestamp")) +
              (col("l_quantity").cast(LongType) % 30) * day).as("le_us"))
        val ord = Tables.table(s, dir, "orders")
          .filter(col("o_orderkey") % 20 === 0)
          .select(col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("rs_us"),
            (unix_micros(col("o_orderdate").cast("timestamp")) +
              (col("o_orderkey") % 15) * day).as("re_us"))
        graft.operators.BinnedRangeJoin
          .intervalOverlap(ship, col("ls_us"), col("le_us"),
            ord, col("rs_us"), col("re_us"), binWidth = 16 * day)
          .select(col("l_orderkey"), col("l_linenumber"), col("o_orderkey"))
      },
      Some("SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey " +
        "FROM lineitem l JOIN orders o " +
        "ON l.l_shipdate <= o.o_orderdate + to_days(CAST(o.o_orderkey % 15 AS INT)) " +
        "AND o.o_orderdate <= l.l_shipdate + to_days(CAST(floor(l_quantity) AS INT) % 30) " +
        "WHERE l.l_suppkey % 50 = 0 AND o.o_orderkey % 20 = 0")),

    // Z-order curve values: the Morton interleave that drives
    // multi-dimensional data layout (operators.ZOrder.layout). Pure bit
    // arithmetic, oracle-checked bit-for-bit against the same magic-
    // number spread written in DuckDB SQL.
    GraftQuery(
      "q_zorder_curve",
      (s, dir) =>
        Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            graft.operators.ZOrder
              .zValue16(col("l_partkey") % 1024, col("l_suppkey") % 1024)
              .as("z")),
      Some("WITH a AS (SELECT l_orderkey, l_linenumber, " +
        "(l_partkey % 1024) AS x0, (l_suppkey % 1024) AS y0 FROM lineitem), " +
        "b AS (SELECT l_orderkey, l_linenumber, " +
        "((x0 | (x0 << 8)) & 16711935) AS x1, ((y0 | (y0 << 8)) & 16711935) AS y1 FROM a), " +
        "c AS (SELECT l_orderkey, l_linenumber, " +
        "((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM b), " +
        "d AS (SELECT l_orderkey, l_linenumber, " +
        "((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM c), " +
        "e AS (SELECT l_orderkey, l_linenumber, " +
        "((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM d) " +
        "SELECT l_orderkey, l_linenumber, (x4 | (y4 << 1)) AS z FROM e")),

    // SCD type-2 history build: each event opens a validity interval on
    // its user's timeline, closed by the next event (lead over the
    // user's exact-nanos event order); open intervals are current. The
    // window partitions by user_id — high-cardinality, shuffle-parallel.
    GraftQuery(
      "q_scd2_history",
      (s, dir) => {
        // micros resolution: DuckDB reads the NANOS parquet timestamps
        // truncated to micros, so the shared granularity is µs; event_id
        // breaks (sub-µs) ties identically in both engines
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("valid_from_us").asc, col("event_id").asc)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("valid_from_us"))
          .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
          .withColumn("is_current", col("valid_to_us").isNull)
      },
      Some("SELECT user_id, event_id, epoch_us(ts) AS valid_from_us, " +
        "lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to_us, " +
        "(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL) AS is_current " +
        "FROM events")),

    // CDC apply (SCD type-1): a deterministic change feed of updates and
    // deletes merged into the base — untouched rows pass through the
    // anti-join, updates replace, deletes vanish. The realistic shape of
    // an incremental 100 TB refresh: the join is keyed on the primary
    // key and the change feed is tiny relative to the base (at scale,
    // the BloomAntiJoin pre-filter applies verbatim).
    GraftQuery(
      "pipe_cdc_apply",
      (s, dir) => {
        val base = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val changes = base
          .filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 17 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 17 === 0, "D").otherwise("U").as("op"),
            (col("o_totalprice") + 1000.0d).as("new_price"))
        val untouched = base
          .join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .select(col("o_orderkey"), col("o_totalprice").as("price_final"),
            lit("base").as("src"))
        val updated = changes.filter(col("op") === "U")
          .select(col("o_orderkey"), col("new_price").as("price_final"),
            lit("updated").as("src"))
        untouched.unionByName(updated)
      },
      Some("WITH changes AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "o_totalprice + 1000 AS new_price FROM orders " +
        "WHERE o_orderkey % 10 = 0 OR o_orderkey % 17 = 0) " +
        "SELECT o_orderkey, o_totalprice AS price_final, 'base' AS src FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes) " +
        "UNION ALL SELECT o_orderkey, new_price AS price_final, 'updated' AS src " +
        "FROM changes WHERE op = 'U'")),

    // Ordered string aggregation (listagg WITHIN GROUP): per-nation
    // customer roster, deterministic order — the report/export shape.
    GraftQuery(
      "q_listagg",
      (s, dir) =>
        Tables.table(s, dir, "customer")
          .filter(col("c_custkey") % 25 === 0)
          .groupBy(col("c_nationkey"))
          .agg(expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)")
            .as("names"), count(lit(1)).as("n")),
      Some("SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names, " +
        "count(*) AS n FROM customer WHERE c_custkey % 25 = 0 GROUP BY c_nationkey")),

    // ORC roundtrip — the third columnar/text format besides CSV/JSONL:
    // write a table slice through the ORC writer, read it back, and
    // aggregate; the oracle computes the same aggregate straight from
    // parquet, so any loss in the ORC write→read path surfaces as a
    // value mismatch.
    GraftQuery(
      "src_orc_roundtrip",
      (s, dir) => {
        val dec6 = DecimalType(38, 6)
        val proj = Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        val tmp = TempDirs("graft_orc_rt")
        proj.write.mode("overwrite").orc(tmp)
        s.read.schema(proj.schema).orc(tmp)
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec6)).cast(DoubleType).as("total"),
            min(col("o_orderdate")).as("first_dt"),
            max(col("o_orderdate")).as("last_dt"),
            sum(col("o_orderkey")).as("key_sum"))
      },
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total, " +
        "min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt, " +
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders GROUP BY o_orderpriority")),

    // Incremental aggregate maintenance: a stored per-key partial state
    // (counts + DECIMAL sums over the history) merged with a fresh
    // delta's partials by summing the partials — never re-scanning the
    // history. The oracle computes the same aggregate directly over
    // everything, so the hash match IS the proof that state-merge ==
    // full recompute. Partials stay DECIMAL through the merge (decimal
    // addition is associative; casting to double before merging would
    // reintroduce order dependence) — the materialized-view refresh
    // pattern: at 100 TB only the delta is scanned per refresh.
    GraftQuery(
      "pipe_incremental_agg",
      (s, dir) => {
        val dec6 = DecimalType(38, 6)
        val orders = Tables.table(s, dir, "orders")
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(dec6)).as("total_dec"))
        val state = partial(orders.filter(col("o_orderdate") < lit("1997-01-01")))
        val delta = partial(orders.filter(col("o_orderdate") >= lit("1997-01-01")))
        state.unionByName(delta)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("cnt")).as("n_orders"),
            sum(col("total_dec")).cast(DoubleType).as("total"))
      },
      Some("SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY o_orderpriority")),

    // Deterministic train/val/test assignment: each doc lands in
    // exactly one split by md5 bucket (~98/1/1), reproducible across
    // engines, runs, partitionings, AND corpus growth — a doc's split
    // never changes when new docs arrive, which seeded-RNG splits
    // cannot promise. Narrow per-row work, no shuffle; the namespaced
    // key ("split:" prefix) keeps this hash independent of every other
    // md5-derived decision in the pipeline.
    GraftQuery(
      "pipe_train_split",
      (s, dir) => {
        val b = substring(
          md5(concat(lit("split:"), col("doc_id").cast(StringType))), 1, 2)
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), b.as("bucket"),
            when(b < "fa", "train").when(b < "fd", "val")
              .otherwise("test").as("split"))
      },
      Some("WITH b AS (SELECT doc_id, " +
        "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket " +
        "FROM documents) " +
        "SELECT doc_id, bucket, CASE WHEN bucket < 'fa' THEN 'train' " +
        "WHEN bucket < 'fd' THEN 'val' ELSE 'test' END AS split FROM b"))
  ,

    // Leakage-safe split: pipe_train_split hashes the raw doc_id, so two
    // near-duplicate documents can land in train AND test — the classic
    // contamination bug that inflates eval numbers. Here the split hashes
    // the near-dup cluster CANONICAL (min doc_id of the connected
    // component over exact jaccard-0.8 pairs; singletons are their own
    // canonical), so every member of a cluster inherits one split. At
    // 100 TB the cluster map is the dedup pipeline's existing output —
    // the split itself stays a map-side hash, no extra shuffle.
    GraftQuery(
      "pipe_leak_safe_split",
      (s, dir) => leakSafeSplitQ(s, Tables.table(s, dir, "documents")),
      Some(leakSafeSplitOracle),
      quadraticOracle = true),

    // Sliced sweep companion (see Dedup.sliceSpark): identical program
    // over the deterministic ~19% corpus slice, so the quadratic oracle
    // stays DuckDB-tractable at sf0.1.
    GraftQuery(
      "pipe_leak_safe_split_sliced",
      (s, dir) => leakSafeSplitQ(s, Dedup.slicedDocuments(s, dir)),
      Some(Dedup.sliceOracle(leakSafeSplitOracle))),

    // The whole dedup funnel in one query — raw corpus → exact dedup
    // (md5 keep-first) → near-dup canonicalization (PPJoin jaccard-0.8
    // pairs over the EXACT SURVIVORS, connected components, keep each
    // cluster's canonical) — with the stage counts a pipeline owner
    // reports. Stage order matters and is the cheap-first production
    // order: the hash dedup costs one narrow shuffle and shrinks the
    // candidate set before the expensive similarity join ever runs.
    // The oracle replays every stage (HUGEINT md5 grouping, exact
    // jaccard pairs, recursive-CTE components) cell-exactly.
    GraftQuery(
      "pipe_dedup_funnel",
      (s, dir) => dedupFunnelQ(s, Tables.table(s, dir, "documents")),
      Some(dedupFunnelOracle),
      quadraticOracle = true),

    // Sliced sweep companion (see Dedup.sliceSpark).
    GraftQuery(
      "pipe_dedup_funnel_sliced",
      (s, dir) => dedupFunnelQ(s, Dedup.slicedDocuments(s, dir)),
      Some(Dedup.sliceOracle(dedupFunnelOracle))),

    // Single-pass data-quality report: every expectation (null counts,
    // range violations, primary-key uniqueness) evaluated as a
    // conditional aggregate in ONE scan, with pass/fail verdicts
    // derived from the counts. The reference pipeline re-scans its
    // input once per count() for the same deltas (SURVEY §4); at
    // 100 TB validation must be one aggregate job, not N actions.
    GraftQuery(
      "pipe_dq_report",
      (s, dir) => {
        val li = Tables.table(s, dir, "lineitem")
        li.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
            sum(when(col("l_discount") < 0.0d || col("l_discount") > 1.0d, 1L)
              .otherwise(0L)).as("bad_discount"),
            sum(when(col("l_extendedprice") <= 0.0d, 1L).otherwise(0L)).as("nonpos_price"),
            count_distinct(concat_ws("-",
              col("l_orderkey").cast(StringType),
              col("l_linenumber").cast(StringType))).as("n_pk"))
          .select(
            col("n_rows"), col("null_qty"), col("bad_discount"),
            col("nonpos_price"), col("n_pk"),
            (col("null_qty") === 0L).as("nulls_ok"),
            (col("bad_discount") === 0L).as("range_ok"),
            (col("n_pk") === col("n_rows")).as("pk_unique_ok"))
      },
      Some("WITH a AS (SELECT count(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty, " +
        "CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount, " +
        "CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price, " +
        "count(DISTINCT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) AS n_pk " +
        "FROM lineitem) " +
        "SELECT n_rows, null_qty, bad_discount, nonpos_price, n_pk, " +
        "null_qty = 0 AS nulls_ok, bad_discount = 0 AS range_ok, " +
        "n_pk = n_rows AS pk_unique_ok FROM a")),

    // Exact-quota deterministic sampling: EXACTLY 10 docs per source,
    // chosen by md5 rank — reproducible across engines/runs/
    // partitionings like pipe_mix_sources, but with a guaranteed sample
    // SIZE (rate-based sampling only hits quotas in expectation).
    // Runs on the native TopKPerKey plan: per-partition bounded heaps,
    // shuffle carries at most k rows per (partition, source), no
    // full-history sort — the window row_number formulation the oracle
    // uses would sort every stratum at 100 TB.
    GraftQuery(
      "pipe_quota_sample",
      (s, dir) => {
        val ranked = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            md5(concat(col("doc_id").cast("string"), lit(":quota"))).as("rk"))
        org.apache.spark.sql.graft.GraftPlans
          .topKPerKey(ranked, keys = Seq(col("source")),
            order = Seq(col("rk").asc, col("doc_id").asc), k = 10)
          .select(col("source"), col("doc_id"))
      },
      Some("SELECT source, doc_id FROM (" +
        "SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota') ASC, doc_id ASC) AS rn " +
        "FROM documents) WHERE rn <= 10")),

    // Dataset card / datasheet: the one-row corpus summary a training-
    // data pipeline publishes alongside the data — sizes, language and
    // source coverage, exact-duplicate rate, token-count distribution.
    // One pass over the corpus: the narrow per-doc projection (REAL BPE
    // token count under the frozen vocab + content hash) feeds a single
    // global aggregate; the
    // count-distincts are the only expand, and every statistic is exact
    // integer arithmetic (the dup ratio is one final IEEE division).
    GraftQuery(
      "pipe_dataset_card",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val perDoc = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            size(graft.functions.GraftFunctions.bpe_encode(
              col("text"), graft.functions.BpeVocab.Default))
              .cast("long").as("n_toks"),
            md5(col("text")).as("sig"))
        perDoc.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("sig")).as("n_unique_texts"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_toks")).as("total_tokens"),
          // cast: Spark's percentile_disc returns DOUBLE; the DuckDB
          // oracle's quantile_disc keeps the input's BIGINT type. The
          // discrete percentile of integer token counts is an exact
          // integer, so the cast is lossless.
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_toks)")
            .cast("long").as("p50_toks"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
          .withColumn("dup_ratio",
            (col("n_docs") - col("n_unique_texts")).cast("double") /
              col("n_docs").cast("double"))
      },
      Some("SELECT count(*) AS n_docs, " +
        "count(DISTINCT md5(text)) AS n_unique_texts, " +
        "count(DISTINCT lang) AS n_langs, " +
        "count(DISTINCT source) AS n_sources, " +
        "CAST(SUM(n_toks) AS BIGINT) AS total_tokens, " +
        "quantile_disc(n_toks, 0.5) AS p50_toks, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
        "CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio " +
        "FROM (SELECT *, " +
        graft.functions.BpeEncode.oracleCountSql(
          graft.functions.BpeVocab.Default, "text") +
        " AS n_toks FROM documents)")),

    // Global training-order shuffle, the scale-correct way: a true global
    // sort of 100 TB for "random" example order is one giant range
    // exchange; training pipelines instead shard by a hash prefix and
    // order WITHIN each shard — readers consume shards independently and
    // the concatenated order is deterministic and statistically shuffled.
    // One shuffle on the 256-way shard key; the per-shard window sorts
    // only its shard (no global coordination, shard count is the
    // parallelism knob). md5 keys make it engine- and run-reproducible.
    GraftQuery(
      "pipe_global_shuffle",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val keyed = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            md5(concat(col("doc_id").cast("string"), lit(":gshuf"))).as("k"))
          .withColumn("shard", substring(col("k"), 1, 2))
        keyed
          // cast: Spark row_number is INT, DuckDB's is BIGINT — same
          // exact values, but the gate hashes typed cells
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id")))
            .cast("long"))
          .select(col("shard"), col("pos"), col("doc_id"))
      },
      Some("SELECT substr(k, 1, 2) AS shard, " +
        "row_number() OVER (PARTITION BY substr(k, 1, 2) ORDER BY k, doc_id) AS pos, " +
        "doc_id FROM (SELECT doc_id, " +
        "md5(CAST(doc_id AS VARCHAR) || ':gshuf') AS k FROM documents)")),

    // Soft dedup via sampling weights (the D4/SemDeDup-flavored
    // alternative to hard removal): every member of an exact-duplicate
    // cluster survives but carries weight 1/cluster_size, so the
    // training-time expected contribution of each unique text is
    // constant. One shuffle on the 16-byte fingerprint (a count window
    // over the hash partition — never the text); the weight is a single
    // IEEE division of exact integers, bit-identical across engines.
    GraftQuery(
      "pipe_dup_weight",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy(col("fp"))))
          .select(col("doc_id"), col("fp"),
            (lit(1.0d) / col("cluster_size").cast("double")).as("weight"))
      },
      Some("SELECT doc_id, fp, 1.0 / CAST(cluster_size AS DOUBLE) AS weight " +
        "FROM (SELECT doc_id, md5(lower(trim(text))) AS fp, " +
        "count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS cluster_size " +
        "FROM documents)")
  ))
}
