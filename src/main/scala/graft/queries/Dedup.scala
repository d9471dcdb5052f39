package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.GraftFunctions

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline at 100 TB:
  *
  *  - exact dedup: normalized-fingerprint groupBy (one shuffle on the
  *    16-byte hash, not the document text);
  *  - n-gram Jaccard: exact token-set similarity over *blocked* candidate
  *    pairs (equi + band range join) — never all-pairs;
  *  - MinHash+LSH: k=32 signature computed inside one higher-order
  *    expression (no explode, no shuffle), b=8/r=4 banding, candidate
  *    pairs from the band-bucket self-join, then exact-Jaccard rescoring;
  *  - SimHash: native 64-bit fingerprint expression + 16-bit-band
  *    blocking for Hamming-distance pairs.
  *
  * The LSH family is how this survives scale: the only shuffle is on
  * (band, bandHash) keys, candidate sets are tiny vs n², and everything
  * upstream is narrow per-row work.
  */
object Dedup {

  /** Deterministic ~19% corpus slice behind the `_sliced` companions of
    * the quadratic-oracle queries: first hex char of md5(decimal doc_id)
    * in 0..2. md5 over the decimal string is engine-portable (identical
    * bytes hash identically in Spark and DuckDB) and uncorrelated with
    * the fixtures' planted-duplicate structure, unlike a doc_id modulus.
    * The sliced variants run the SAME program over the filtered corpus —
    * exactness on the slice is preserved (slicing before pair generation
    * IS the query on the subset corpus), while the all-pairs/recursive
    * DuckDB oracles drop to ~3.5% of the full pair count and become
    * tractable at sf0.1, giving the quadratic family true sf0.1
    * cross-engine coverage instead of a timeout skip-list. Sized
    * empirically: at 25% the recursive-CTE component oracles need
    * ~205 s sequential at sf0.1 (timeout-prone under sweep-pool
    * contention); at 19% they fit the 600 s sweep limit with margin.
    */
  val sliceSpark: Column =
    substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1", "2")
  val sliceSql: String =
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')"

  /** Rewrites a `documents`-table oracle to the sliced corpus. */
  def sliceOracle(sql: String): String =
    sql.replace("FROM documents",
      s"FROM (SELECT * FROM documents WHERE $sliceSql)")

  def slicedDocuments(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents").filter(sliceSpark)

  // The corpus vocabulary is tiny, so unigram sets saturate (every doc
  // resembles every doc); word-3-gram shingles capture word order and are
  // the discriminative unit for near-dup detection (Broder's shingling).
  // Engine-side shingle hashing is the native `ngram_hashes` expression;
  // the string form below exists for SimHash's frequency weighting.

  /** (doc_id, toks, i) — one row per k-token window start. The window
    * content is computed AFTER the explode from the carried `toks`
    * attribute: exploding a pre-built span array makes
    * InferFiltersFromGenerate emit a size guard whose pushdown rebuilds
    * the ENTIRE span array a second time at the scan, and the
    * interpreted transform() lambda re-evaluates split(text) per
    * element on top — measured 2.4x slower at 1M docs than this shape.
    */
  private def spanStarts(docs: DataFrame, k: Int): DataFrame =
    docs.filter(size(split(col("text"), " ")) >= k)
      // coalesce makes toks (hence every span built from it) non-nullable,
      // so join keys on spans never generate an IsNotNull constraint that
      // would re-evaluate the span construction in a pushed filter
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (k - 1))).as("i"))

  /** Shingle sequence with duplicates — SimHash weights by frequency. */
  private def shingleList: Column = {
    val toks = split(col("text"), " ")
    when(size(toks) >= 3,
      transform(
        sequence(lit(1), size(toks) - lit(2)),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + lit(1)), element_at(toks, i + lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  private[queries] val shingleSetSql =
    "list_distinct(list_transform(generate_series(1, greatest(len(tokens) - 2, 0)), " +
      "i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))"

  /** Greedy cross-batch accept replay (4 batches, doc_id % 4, exact
    * keep-first within a batch, jaccard >= 0.8 rejection against every
    * earlier batch's accepted set) — the shared oracle of
    * `dd_stream_lsh_index` and `dd_stream_lsh_compact`: both engine
    * lifecycles must land on the identical accept history.
    */
  private val streamLshOracle: String = {
    def step(i: Int, prev: String): String =
      s"a$i AS (SELECT d.doc_id, d.batch, d.sh FROM e d " +
        s"WHERE d.batch = $i AND NOT EXISTS (" +
        s"SELECT 1 FROM $prev p WHERE len(d.sh) > 0 AND len(p.sh) > 0 " +
        "AND len(list_intersect(d.sh, p.sh)) / " +
        "CAST(len(list_distinct(d.sh || p.sh)) AS DOUBLE) >= 0.8))"
    "WITH t AS (SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch, " +
      "md5(text) AS sig, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, batch, sig, $shingleSetSql AS sh FROM t), " +
      "e AS (SELECT doc_id, batch, sh FROM (SELECT doc_id, batch, sh, " +
      "row_number() OVER (PARTITION BY batch, sig ORDER BY doc_id) AS rn " +
      "FROM s) WHERE rn = 1), " +
      "a0 AS (SELECT doc_id, batch, sh FROM e WHERE batch = 0), " +
      step(1, "a0") + ", " +
      "p1 AS (SELECT * FROM a0 UNION ALL SELECT * FROM a1), " +
      step(2, "p1") + ", " +
      "p2 AS (SELECT * FROM p1 UNION ALL SELECT * FROM a2), " +
      step(3, "p2") + " " +
      "SELECT batch, count(*) AS n_accepted, " +
      "CAST(sum(doc_id) AS BIGINT) AS id_sum " +
      "FROM (SELECT * FROM p2 UNION ALL SELECT * FROM a3) GROUP BY batch"
  }

  private[queries] def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** DuckDB CTE chain reproducing SimHash.simhash exactly: the FNV-1a
    * fold + splitmix finalizer run in HUGEINT with mod-2^64 reductions
    * (Java long arithmetic wraps; HUGEINT doesn't). The two ≥2^63
    * finalizer multipliers are decomposed hi·2^32+lo so no intermediate
    * exceeds HUGEINT range; the fold and voting mirror the expression's
    * loops; docs with <3 tokens get fingerprint 0 like simhash64([]).
    * Ends with CTE `fpu` = (doc_id, h) with h the unsigned fingerprint.
    */
  private val simhashCtes: String = {
    val M = "18446744073709551616::HUGEINT"
    def mulmod(hi: Long, lo: Long) =
      s"(((h * $lo::HUGEINT) % $M + " +
        s"(((h * $hi::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $M)"
    val byteAt = "CAST(('0x' || substr(hx, (i-1)*2+1, 2)) AS INT)"
    "t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents), " +
      "shl AS (SELECT doc_id, unnest(CASE WHEN len(tokens) >= 3 THEN " +
      "list_transform(generate_series(1, len(tokens) - 2), " +
      "i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) " +
      "ELSE [] END) AS s FROM t), " +
      "hx0 AS (SELECT doc_id, hex(encode(s)) AS hx FROM shl), " +
      "raw AS (SELECT doc_id, list_reduce(" +
      "list_prepend(11400714819323198485::HUGEINT, " +
      "list_transform(range(1, length(hx)//2 + 1), " +
      s"i -> CAST($byteAt AS HUGEINT) + " +
      s"CASE WHEN $byteAt >= 128 THEN 18446744073709551360::HUGEINT ELSE 0::HUGEINT END)), " +
      s"(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % $M) AS h FROM hx0), " +
      "f1 AS (SELECT doc_id, xor(h, h // 1073741824::HUGEINT) AS h FROM raw), " +
      s"f2 AS (SELECT doc_id, ${mulmod(3210233709L, 484763065L)} AS h FROM f1), " +
      "f3 AS (SELECT doc_id, xor(h, h // 134217728::HUGEINT) AS h FROM f2), " +
      s"f4 AS (SELECT doc_id, ${mulmod(2496678331L, 321982955L)} AS h FROM f3), " +
      "f5 AS (SELECT doc_id, xor(h, h // 2147483648::HUGEINT) AS h FROM f4), " +
      "votes AS (SELECT doc_id, r.b, " +
      "SUM(CASE WHEN (h // (1::HUGEINT << r.b)) % 2 = 1 THEN 1 ELSE -1 END) AS v " +
      "FROM f5 CROSS JOIN range(64) r(b) GROUP BY doc_id, r.b), " +
      "fp AS (SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b) " +
      "ELSE 0::HUGEINT END) AS h FROM votes GROUP BY doc_id), " +
      "fpu AS (SELECT d.doc_id, COALESCE(fp.h, 0::HUGEINT) AS h " +
      "FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id)"
  }

  private val hugeToSigned =
    "CASE WHEN h >= 9223372036854775808::HUGEINT " +
      "THEN h - 18446744073709551616::HUGEINT ELSE h END"

  /** DuckDB replay of the full MinHash-LSH pipeline (NearDupLsh.pairs):
    * FNV+mix64 token hashes, windowed 3-gram combination, the k=32
    * a·x+b signature lanes (constants generated from MinHashSig itself,
    * signed minima), b=8/r=4 banding — candidates join on the raw
    * 4-lane slices where Spark joins on their Murmur3 hash, identical
    * unless a 2^-32 hash collision ADDS a candidate that also passes
    * exact rescoring (verified exact on the fixtures) — and the same
    * inter/(na+nb−inter) rescoring formula. All 64-bit wrapping
    * arithmetic runs in HUGEINT with mod-2^64 reductions; ≥2^63
    * multipliers are decomposed hi·2^32+lo to stay in HUGEINT range.
    */
  private def minhashLshOracle(threshold: Double): String = {
    val M = "18446744073709551616::HUGEINT"
    val HALF = "9223372036854775808::HUGEINT"
    val P = "1099511628211::HUGEINT"
    def mm(h: String, hi: Long, lo: Long) =
      s"((($h * $lo::HUGEINT) % $M + " +
        s"((($h * $hi::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $M)"
    def mmCols(h: String, hi: String, lo: String) =
      s"((($h * $lo) % $M + " +
        s"((($h * $hi) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $M)"
    // unsigned 64-bit constants exceed Long range: keep them as BigInt
    def uns(x: Long): BigInt = BigInt(java.lang.Long.toUnsignedString(x))
    val c1 = uns(-4658895280553007687L)
    val c2 = uns(-7723592293110705685L)
    def mixChain(src: String, out: String) =
      s"${out}_m0 AS (SELECT * REPLACE(((h + 11400714819323198485::HUGEINT) % $M) AS h) FROM $src), " +
        s"${out}_m1 AS (SELECT * REPLACE(xor(h, h // 1073741824::HUGEINT) AS h) FROM ${out}_m0), " +
        s"${out}_m2 AS (SELECT * REPLACE(${mm("h", (c1 >> 32).toLong, (c1 & 0xFFFFFFFFL).toLong)} AS h) FROM ${out}_m1), " +
        s"${out}_m3 AS (SELECT * REPLACE(xor(h, h // 134217728::HUGEINT) AS h) FROM ${out}_m2), " +
        s"${out}_m4 AS (SELECT * REPLACE(${mm("h", (c2 >> 32).toLong, (c2 & 0xFFFFFFFFL).toLong)} AS h) FROM ${out}_m3), " +
        s"$out AS (SELECT * REPLACE(xor(h, h // 2147483648::HUGEINT) AS h) FROM ${out}_m4)"
    val lanes = (0 until graft.functions.MinHashSig.K).map { i =>
      val a = uns(graft.functions.MinHashSig.hashA(i))
      val b = uns(graft.functions.MinHashSig.hashB(i))
      s"($i, ${(a >> 32)}::HUGEINT, ${(a & 0xFFFFFFFFL)}::HUGEINT, $b::HUGEINT)"
    }.mkString(", ")
    val byteAt = "CAST(('0x' || substr(hx, (i-1)*2+1, 2)) AS INT)"
    val fold3 =
      s"(xor((xor((xor(14695981039346656037::HUGEINT, a) * $P) % $M, b) * $P) % $M, c) * $P) % $M"
    val jacc = "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / " +
      "CAST(sa.n + sb.n - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents), " +
      "tokr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens)), " +
      "i -> struct_pack(pos := i, tk := tokens[i]))) AS u FROM t WHERE len(tokens) >= 3), " +
      "tok AS (SELECT doc_id, u.pos AS pos, u.tk AS tk FROM tokr), " +
      "hx0 AS (SELECT doc_id, pos, hex(encode(tk)) AS hx FROM tok), " +
      "thraw AS (SELECT doc_id, pos, list_reduce(" +
      "list_prepend(14695981039346656037::HUGEINT, " +
      "list_transform(range(1, length(hx)//2 + 1), " +
      s"i -> CAST($byteAt AS HUGEINT) + " +
      s"CASE WHEN $byteAt >= 128 THEN 18446744073709551360::HUGEINT ELSE 0::HUGEINT END)), " +
      s"(acc, x) -> (xor(acc, x) * $P) % $M) AS h FROM hx0), " +
      mixChain("thraw", "th") + ", " +
      "tharr AS (SELECT doc_id, list(h ORDER BY pos) AS th FROM th GROUP BY doc_id), " +
      "ngr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(th) - 2), " +
      "i -> struct_pack(pos := i, a := th[i], b := th[i+1], c := th[i+2]))) AS u FROM tharr), " +
      "ngraw AS (SELECT doc_id, u.pos AS pos, u.a AS a, u.b AS b, u.c AS c FROM ngr), " +
      s"ngf AS (SELECT doc_id, pos, $fold3 AS h FROM ngraw), " +
      mixChain("ngf", "ng") + ", " +
      "nh AS (SELECT DISTINCT doc_id, h FROM ng), " +
      s"lanes(lane, a_hi, a_lo, bb) AS (VALUES $lanes), " +
      "sigv AS (SELECT doc_id, lane, " +
      s"MIN(CAST(CASE WHEN v >= $HALF THEN v - $M ELSE v END AS BIGINT)) AS s " +
      s"FROM (SELECT n.doc_id, l.lane, (${mmCols("n.h", "l.a_hi", "l.a_lo")} + l.bb) % $M AS v " +
      "FROM nh n CROSS JOIN lanes l) GROUP BY doc_id, lane), " +
      "slices AS (SELECT doc_id, lane // 4 AS band, list(s ORDER BY lane) AS slice " +
      "FROM sigv GROUP BY doc_id, lane // 4), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM slices a JOIN slices b ON a.band = b.band AND a.slice = b.slice " +
      "AND a.doc_id < b.doc_id), " +
      "sets AS (SELECT doc_id, list(h) AS sh, count(*) AS n FROM nh GROUP BY doc_id) " +
      s"SELECT c.doc_a, c.doc_b, $jacc AS jaccard " +
      "FROM cand c JOIN sets sa ON c.doc_a = sa.doc_id " +
      "JOIN sets sb ON c.doc_b = sb.doc_id " +
      s"WHERE $jacc >= $threshold"
  }

  // ---- quadratic-oracle query bodies, shared by the full-corpus entry
  // and its `_sliced` sweep companion (same program, different source) --

  private def ngramJaccardQ(s: SparkSession, documents: DataFrame): DataFrame =
    graft.operators.PrefixFilterJoin.pairs(
      documents.select(col("doc_id"), col("n_chars"), col("text")),
      num = 4, den = 5, charWindow = 16)

  private val ngramJaccardOracle: String =
    "WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, n_chars, $shingleSetSql AS sh FROM t) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard " +
      "FROM s a JOIN s b ON b.n_chars BETWEEN a.n_chars - 16 AND a.n_chars + 16 " +
      "AND a.doc_id < b.doc_id " +
      "WHERE len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8"

  private def ppjoinQ(s: SparkSession, documents: DataFrame): DataFrame =
    graft.operators.PrefixFilterJoin.pairs(
      documents.select(col("doc_id"), col("text")),
      num = 4, den = 5)

  private val ppjoinOracle: String =
    "WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, $shingleSetSql AS sh FROM t) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND " +
      "len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8"

  private def clusterCanonicalQ(s: SparkSession, documents: DataFrame): DataFrame = {
    val pairs = ppjoinQ(s, documents)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.operators.ConnectedComponents.run(pairs)
      .select(col("id").as("doc_id"), col("component"))
  }

  private val clusterCanonicalOracle: String =
    "WITH RECURSIVE t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, $shingleSetSql AS sh FROM t), " +
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
      "SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.node) " +
      "SELECT node AS doc_id, min(lbl) AS component FROM comp GROUP BY node"

  private def clusterKeepBestQ(s: SparkSession, documents: DataFrame): DataFrame = {
    val docs = documents
      .transform(graft.operators.AdaptiveWidth.spread)
      .select(col("doc_id"), col("text"))
    val pairs = graft.operators.PrefixFilterJoin.pairs(docs, num = 4, den = 5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val clusters = graft.operators.ConnectedComponents.run(pairs)
      .select(col("id").as("doc_id"), col("component"))
    val quality = docs.select(
      col("doc_id"),
      (size(array_distinct(split(col("text"), " "))).cast("double") /
        size(split(col("text"), " ")).cast("double")).as("q"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("q").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(
        min(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  private val clusterKeepBestOracle: String =
    "WITH RECURSIVE t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, $shingleSetSql AS sh FROM t), " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND " +
      "len(list_intersect(a.sh, b.sh)) / " +
      "CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8), " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION SELECT doc_b, doc_a FROM pairs), " +
      "comp(node, lbl) AS (SELECT src, src FROM edges UNION " +
      "SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.node), " +
      "clusters AS (SELECT node AS doc_id, min(lbl) AS component FROM comp GROUP BY node), " +
      "quality AS (SELECT doc_id, " +
      "CAST(len(list_distinct(tokens)) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) AS q " +
      "FROM t), " +
      "ranked AS (SELECT component, doc_id, " +
      "row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id ASC) AS rn " +
      "FROM clusters JOIN quality USING (doc_id)) " +
      "SELECT component, min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id, " +
      "count(*) AS n_members FROM ranked GROUP BY component"

  /** The dd_cluster_incremental program: yesterday's corpus (the 90%)
    * arrives ALREADY CLUSTERED as standing (id, component) assignments;
    * today's batch (the 10%) contributes new↔old edges served from the
    * persisted exact index plus new↔new edges mined in-line, and
    * ConnectedComponents.incremental folds them in by contracting
    * standing components — propagation runs on the batch-sized
    * contracted graph, never on the standing corpus. The oracle is the
    * FULL-RECOMPUTE recursive CTE over every pair (identical to
    * dd_cluster_canonical's), so the driver's hash compare is itself
    * the incremental ≡ full-recompute proof.
    */
  private def clusterIncrementalQ(s: SparkSession, docs0: DataFrame): DataFrame = {
    val docs = docs0
      .transform(graft.operators.AdaptiveWidth.spread) // scale-adaptive (was defaultParallelism)
      .select(col("doc_id"), col("text"))
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val newDocs = docs.filter(col("doc_id") % 10 === 7)
    val standing = graft.operators.ConnectedComponents.run(
      graft.operators.PrefixFilterJoin.pairs(oldDocs, num = 4, den = 5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val idx = TempDirs("graft_cc_inc_gate")
    graft.operators.PrefixFilterJoin.writeIndex(oldDocs, idx, num = 4, den = 5)
    val mixed = graft.operators.PrefixFilterJoin
      .pairsAgainstIndex(s, newDocs, idx, num = 4, den = 5)
      .select(col("new_id").as("src"), col("old_id").as("dst"))
    val intra = graft.operators.PrefixFilterJoin.pairs(newDocs, num = 4, den = 5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.operators.ConnectedComponents
      .incremental(standing, mixed.union(intra))
      .select(col("id").as("doc_id"), col("component"))
  }

  /** The dd_incremental_ppjoin program over an arbitrary documents frame
    * (full corpus or the sweep slice): build the exact index on the
    * standing 90%, serve today's 10% batch against it losslessly.
    */
  private def incrementalPpjoinQ(s: SparkSession, docs0: DataFrame): DataFrame = {
    val docs = docs0
      .transform(graft.operators.AdaptiveWidth.spread) // scale-adaptive (was defaultParallelism)
      .select(col("doc_id"), col("text"))
    val idx = TempDirs("graft_ppjoin_idx_gate")
    graft.operators.PrefixFilterJoin.writeIndex(
      docs.filter(col("doc_id") % 10 =!= 7), idx, num = 4, den = 5)
    graft.operators.PrefixFilterJoin.pairsAgainstIndex(
      s, docs.filter(col("doc_id") % 10 === 7), idx, num = 4, den = 5)
  }

  private val incrementalPpjoinOracle: String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents), " +
      s"s AS (SELECT doc_id, $shingleSetSql AS sh FROM t), " +
      "n AS (SELECT * FROM s WHERE doc_id % 10 = 7 AND len(sh) > 0), " +
      "o AS (SELECT * FROM s WHERE doc_id % 10 <> 7 AND len(sh) > 0) " +
      "SELECT n.doc_id AS new_id, o.doc_id AS old_id, " +
      "len(list_intersect(n.sh, o.sh)) / " +
      "CAST(len(list_distinct(n.sh || o.sh)) AS DOUBLE) AS jaccard " +
      "FROM n JOIN o ON true " +
      "WHERE len(list_intersect(n.sh, o.sh)) / " +
      "CAST(len(list_distinct(n.sh || o.sh)) AS DOUBLE) >= 0.8"

  def defs: Seq[GraftQuery] = Seq(

    // Exact dedup — corpus summary: total vs distinct normalized docs.
    GraftQuery(
      "dd_exact_stats",
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .agg(
            count(lit(1)).as("total_docs"),
            countDistinct(md5(lower(trim(col("text"))))).as("unique_docs")),
      Some("SELECT count(*) AS total_docs, " +
        "count(DISTINCT md5(lower(trim(text)))) AS unique_docs FROM documents")),

    // Exact dedup — keeper selection: min doc_id per fingerprint group.
    // At scale this is the dedup primitive: shuffle 16-byte hashes, keep
    // one winner per group, never move the documents themselves.
    GraftQuery(
      "dd_exact_keep_first",
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .groupBy(md5(lower(trim(col("text")))).as("fingerprint"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size")),
      Some("SELECT md5(lower(trim(text))) AS fingerprint, min(doc_id) AS keep_id, " +
        "count(*) AS group_size FROM documents GROUP BY 1")),

    // Length-blocked exact 3-gram Jaccard near-dup pairs (n_chars within
    // ±16 AND jaccard >= 0.8). Runs as the rarest-first prefix-filter
    // join with the char window pushed into its candidate stage: for
    // j >= 0.8 the prefix theorem is lossless, so (prefix candidates) ∩
    // (|Δchars| <= 16) is EXACTLY the blocked-join answer — but the
    // candidate count is bounded by shingle rarity, not by length-bucket
    // population. Plain length bucketing floods at scale (at sf0.1 the
    // ±16 buckets admit 812k candidate pairs for 5k docs — 65x the
    // corpus — and rescoring them shuffled ~1.3 GB of shingle arrays);
    // the prefix filter admits a few hundred. Shingles are hashed to
    // int64 once per doc so per-pair set ops compare longs, not strings
    // (jaccard identical w.h.p. — 64-bit collisions are negligible).
    GraftQuery(
      "dd_ngram_jaccard",
      (s, dir) => ngramJaccardQ(s, Tables.table(s, dir, "documents")),
      Some(ngramJaccardOracle),
      bench = true,
      quadraticOracle = true),

    // The sliced sweep companion (see `sliceSpark`): identical program
    // over the deterministic ~19% corpus slice, so the quadratic oracle
    // stays DuckDB-tractable at sf0.1.
    GraftQuery(
      "dd_ngram_jaccard_sliced",
      (s, dir) => ngramJaccardQ(s, slicedDocuments(s, dir)),
      Some(sliceOracle(ngramJaccardOracle))),

    // PPJoin-style prefix-filtered exact Jaccard join — the all-pairs
    // similarity join without the all-pairs. Shingles are globally
    // ranked rarest-first (one map-side-combinable frequency pass);
    // for threshold t, two sets with jaccard >= t MUST share a shingle
    // within each one's first (|A| - ceil(t|A|) + 1) rarest shingles,
    // so candidates come from an equi-join on prefix shingles only.
    // On Zipfian corpora the rare-first ordering keeps prefix buckets
    // tiny where frequency-blind blocking (length bands, plain LSH
    // bucketing) floods on common shingles. Prefix filtering is exact —
    // no false negatives — hence the brute-force all-pairs oracle.
    GraftQuery(
      "dd_jaccard_ppjoin",
      (s, dir) => ppjoinQ(s, Tables.table(s, dir, "documents")),
      Some(ppjoinOracle),
      bench = true,
      quadraticOracle = true),

    // Sliced sweep companion (see `sliceSpark`).
    GraftQuery(
      "dd_jaccard_ppjoin_sliced",
      (s, dir) => ppjoinQ(s, slicedDocuments(s, dir)),
      Some(sliceOracle(ppjoinOracle))),

    // Near-dup clusters: connected components over the exact-Jaccard
    // pair graph, every member mapped to its component's minimum doc_id
    // (the canonical keeper). Iterative min-label propagation — one
    // shuffle per round, rounds = component diameter (2-3 for near-dup
    // clusters). The oracle replays the same clustering as a DuckDB
    // recursive CTE over the identical pair set.
    GraftQuery(
      "dd_cluster_canonical",
      (s, dir) => clusterCanonicalQ(s, Tables.table(s, dir, "documents")),
      Some(clusterCanonicalOracle),
      bench = false,
      quadraticOracle = true),

    // Sliced sweep companion (see `sliceSpark`).
    GraftQuery(
      "dd_cluster_canonical_sliced",
      (s, dir) => clusterCanonicalQ(s, slicedDocuments(s, dir)),
      Some(sliceOracle(clusterCanonicalOracle))),

    // The full dedup decision: within each near-dup cluster keep the
    // highest-quality member (distinct-token ratio — pure IEEE division,
    // engine-stable), ties by lower doc_id. Composes the exact pair join
    // → connected components → per-cluster arg-max; emits one keeper row
    // per cluster with the member count. This is the row a 100 TB
    // pipeline actually writes: everything else in the cluster drops.
    GraftQuery(
      "dd_cluster_keep_best",
      (s, dir) => clusterKeepBestQ(s, Tables.table(s, dir, "documents")),
      Some(clusterKeepBestOracle),
      quadraticOracle = true),

    // Sliced sweep companion (see `sliceSpark`).
    GraftQuery(
      "dd_cluster_keep_best_sliced",
      (s, dir) => clusterKeepBestQ(s, slicedDocuments(s, dir)),
      Some(sliceOracle(clusterKeepBestOracle))),

    // Incremental clustering: standing components + a new batch's mixed
    // pair edges → updated canonicals via component contraction
    // (ConnectedComponents.incremental). Oracle = the full-recompute
    // recursive CTE over ALL pairs — hash-matching it IS the
    // incremental ≡ full proof. Quadratic oracle like the other
    // all-pairs families; the sweep swaps in the sliced companion.
    GraftQuery(
      "dd_cluster_incremental",
      (s, dir) => clusterIncrementalQ(s, Tables.table(s, dir, "documents")),
      Some(clusterCanonicalOracle),
      bench = false,
      quadraticOracle = true),

    // Sliced sweep companion (see `sliceSpark`).
    GraftQuery(
      "dd_cluster_incremental_sliced",
      (s, dir) => clusterIncrementalQ(s, slicedDocuments(s, dir)),
      Some(sliceOracle(clusterCanonicalOracle))),

    // MinHash + LSH near-dup pairs, rescored with exact Jaccard — the
    // graft.operators.NearDupLsh pipeline (shared with graft.ScaleWorkloads).
    // Oracled via the HUGEINT replay (minhashLshOracle); recall vs brute
    // force is additionally asserted in DedupSpec.
    GraftQuery(
      "dd_minhash_lsh",
      (s, dir) => graft.operators.NearDupLsh.pairs(
        Tables.table(s, dir, "documents")
          .transform(graft.operators.AdaptiveWidth.spread) // scale-adaptive (was defaultParallelism)
          .select(col("doc_id"), col("text")),
        threshold = 0.5d),
      oracle = Some(minhashLshOracle(0.5d)),
      bench = true),

    // Incremental crawl dedup: today's batch (doc_id % 10 = 7) checked
    // against the standing corpus via NearDupLsh.pairsAgainst — only
    // (new × corpus) candidates are generated; old-old pairs cost
    // nothing, which is what makes daily dedup affordable against a
    // 100 TB history (the corpus side serves persisted signatures and
    // the batch's bands broadcast). Output: per new doc, how many
    // standing near-dups it has and the first one. The oracle replays
    // the full HUGEINT LSH pipeline and keeps the mixed pairs — band
    // collisions are per-document, so the two formulations produce the
    // identical (new, old) pair set.
    GraftQuery(
      "dd_incremental_lsh",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .transform(graft.operators.AdaptiveWidth.spread) // scale-adaptive (was defaultParallelism)
          .select(col("doc_id"), col("text"))
        val newDocs = docs.filter(col("doc_id") % 10 === 7)
        val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
        val matches = graft.operators.NearDupLsh
          .pairsAgainst(newDocs, oldDocs, threshold = 0.5d)
        newDocs.select(col("doc_id").as("new_id"))
          .join(matches.select(col("new_id"), col("old_id")), Seq("new_id"), "left")
          .groupBy(col("new_id"))
          .agg(count(col("old_id")).as("n_dups"), min(col("old_id")).as("first_dup"))
      },
      Some(s"WITH p AS (${minhashLshOracle(0.5d)}), " +
        "mixed AS (SELECT " +
        "CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS new_id, " +
        "CASE WHEN doc_a % 10 = 7 THEN doc_b ELSE doc_a END AS old_id " +
        "FROM p WHERE (doc_a % 10 = 7) <> (doc_b % 10 = 7)) " +
        "SELECT d.doc_id AS new_id, count(m.old_id) AS n_dups, " +
        "min(m.old_id) AS first_dup " +
        "FROM documents d LEFT JOIN mixed m ON d.doc_id = m.new_id " +
        "WHERE d.doc_id % 10 = 7 GROUP BY 1")),

    // The PERSISTED-index flavor of dd_incremental_lsh: the standing
    // corpus is written once through writeIndex (signatures + bucket
    // stats + the flat sorted band artifact) and the batch is served
    // by pairsAgainstIndexAt — candidates from the band artifact,
    // trickle key-prune engaged (the batch is small enough), rescore
    // from stored sh. Identical oracle to dd_incremental_lsh: banding
    // is per-document, so the (new, old) pair set must match the
    // recompute flavor cell-exactly — this row keeps the whole
    // artifact lifecycle under the DuckDB gate, not just under specs.
    GraftQuery(
      "dd_incremental_lsh_indexed",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .transform(graft.operators.AdaptiveWidth.spread) // scale-adaptive (was defaultParallelism)
          .select(col("doc_id"), col("text"))
        val newDocs = docs.filter(col("doc_id") % 10 === 7)
        // a subdir: the index's _bands/_stats siblings stay inside the temp dir
        val idx = s"${TempDirs("graft_inc_idx_gate")}/idx"
        graft.operators.NearDupLsh.writeIndex(
          docs.filter(col("doc_id") % 10 =!= 7), idx)
        val matches = graft.operators.NearDupLsh
          .pairsAgainstIndexAt(s, newDocs, idx, threshold = 0.5d)
        newDocs.select(col("doc_id").as("new_id"))
          .join(matches.select(col("new_id"), col("old_id")), Seq("new_id"), "left")
          .groupBy(col("new_id"))
          .agg(count(col("old_id")).as("n_dups"), min(col("old_id")).as("first_dup"))
      },
      Some(s"WITH p AS (${minhashLshOracle(0.5d)}), " +
        "mixed AS (SELECT " +
        "CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS new_id, " +
        "CASE WHEN doc_a % 10 = 7 THEN doc_b ELSE doc_a END AS old_id " +
        "FROM p WHERE (doc_a % 10 = 7) <> (doc_b % 10 = 7)) " +
        "SELECT d.doc_id AS new_id, count(m.old_id) AS n_dups, " +
        "min(m.old_id) AS first_dup " +
        "FROM documents d LEFT JOIN mixed m ON d.doc_id = m.new_id " +
        "WHERE d.doc_id % 10 = 7 GROUP BY 1")),

    // EXACT incremental similarity serve — the PPJoin analog of
    // dd_incremental_lsh_indexed: the standing corpus is persisted once
    // (shingle sets + frozen rarest-first shingle frequencies + sorted
    // prefix postings), and the batch is served by
    // PrefixFilterJoin.pairsAgainstIndex with ZERO false negatives
    // (prefix filtering is lossless under any fixed total order, and
    // frequency staleness affects candidate efficiency, never
    // correctness). Oracle: brute-force all (new x old) pairs — the
    // strictest possible gate for an exact operator.
    GraftQuery(
      "dd_incremental_ppjoin",
      (s, dir) => incrementalPpjoinQ(s, Tables.table(s, dir, "documents")),
      Some(incrementalPpjoinOracle),
      // the brute oracle is all (new × old) pairs — ~0.09·n² mixed pairs,
      // quadratic like the in-line families above; the sweep swaps in the
      // sliced companion at sf0.1
      quadraticOracle = true),

    // Sliced sweep companion (see `sliceSpark`).
    GraftQuery(
      "dd_incremental_ppjoin_sliced",
      (s, dir) => incrementalPpjoinQ(s, slicedDocuments(s, dir)),
      Some(sliceOracle(incrementalPpjoinOracle))),

    // SimHash fingerprint per document (native expression). The oracle
    // replays the exact bit-for-bit algorithm in DuckDB HUGEINT
    // arithmetic — see simhashCtes.
    GraftQuery(
      "dd_simhash",
      (s, dir) => {
        GraftFunctions.register(s)
        Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            GraftFunctions.simhash64(shingleList).as("simhash"))
      },
      Some(s"WITH $simhashCtes " +
        s"SELECT doc_id, CAST($hugeToSigned AS BIGINT) AS simhash FROM fpu")),

    // SimHash near-dup pairs: block on 16-bit bands (a pair within
    // Hamming distance r collides on >= 1 of 4 bands for r <= 3; wider r
    // still collides with high probability), verify with bit_count(xor).
    GraftQuery(
      "dd_simhash_pairs",
      (s, dir) => {
        GraftFunctions.register(s)
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            GraftFunctions.simhash64(shingleList).as("simhash"))
        // literal-index explode, band value computed AFTER: posexplode
        // over a computed array would let InferFiltersFromGenerate push a
        // size guard that re-evaluates simhash64 once per band at the
        // scan (see NearDupLsh.bandRows for the measured cost)
        val bands = docs.select(
          col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
          .select(col("doc_id"), col("simhash"), col("band"),
            expr("shiftright(simhash, 16 * band)")
              .bitwiseAND(lit(0xFFFFL)).as("band_val"))
        val l = bands.select(col("band"), col("band_val"),
          col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
        val r = bands.select(col("band"), col("band_val"),
          col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
        l.join(r, Seq("band", "band_val"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
          .dropDuplicates("doc_a", "doc_b")
          .filter(col("hamming") <= 8)
      },
      // same fingerprints (simhashCtes), same 16-bit banding (unsigned
      // band extraction equals shiftright+mask after the 0xFFFF mask),
      // same dedup + hamming filter — so the pair set is identical.
      Some(s"WITH $simhashCtes, " +
        "bands AS (SELECT doc_id, h, r.j AS band, " +
        "(h // (1::HUGEINT << (16 * r.j))) % 65536 AS band_val " +
        "FROM fpu CROSS JOIN range(4) r(j)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "a.h AS ha, b.h AS hb FROM bands a JOIN bands b " +
        "ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id) " +
        "SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming " +
        "FROM cand WHERE bit_count(xor(ha, hb)) <= 8")),

    // Exact-substring dedup (the repeated-passage pass of an LLM corpus
    // pipeline, à la "Deduplicating Training Data Makes Language Models
    // Better"): every 8-token sliding window, grouped across the corpus,
    // keeping spans that recur in >= 2 documents. All narrow per-row
    // array work until ONE shuffle on the span key; at 100 TB the span
    // text is replaced by its 128-bit hash (txt_rolling_fingerprint is
    // the per-window rolling-hash primitive) so the shuffle carries 16
    // bytes per window, and a count-min / bloom pre-pass drops the
    // singleton windows — the overwhelming majority — before they ever
    // shuffle (dd_bloom_blocklist is that operator).
    GraftQuery(
      "dd_span_dupes",
      (s, dir) => {
        val k = 8
        spanStarts(Tables.table(s, dir, "documents"), k)
          .select(col("doc_id"),
            array_join(slice(col("toks"), col("i"), lit(k)), " ").as("span"))
          // two-level aggregate instead of count_distinct: the first
          // groupBy collapses within-doc repeats map-side BEFORE the
          // shuffle and the second is a plain hash agg — no
          // distinct-aggregate expand, and the span-keyed shuffle
          // carries one row per (span, doc) instead of one per window
          .groupBy(col("span"), col("doc_id"))
          .agg(count(lit(1)).as("occ"))
          .groupBy(col("span"))
          .agg(
            sum(col("occ")).as("n_occurrences"),
            count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") >= 2)
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "w AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span " +
        "FROM t, unnest(range(1, len(toks) - 7 + 1)) AS g(i)) " +
        "SELECT span, count(*) AS n_occurrences, " +
        "count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc " +
        "FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2")),

    // Streaming dedup against a PERSISTED store (DedupStoreStream): the
    // document feed drives to completion through foreachBatch, each
    // batch keep-first-hashing and MERGE-inserting only novel content
    // hashes into a catalog store table with txn-marker idempotence.
    // The oracle computes the same store membership — min doc_id per
    // md5(text) — straight from parquet, so the hash match proves the
    // streamed, store-mediated dedup equals the batch answer.
    GraftQuery(
      "dd_stream_store",
      (s, dir) => {
        val root = TempDirs("graft_ds_gate")
        val cat = s"ds${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE TABLE $cat.g.store (sig STRING, doc_id BIGINT, text STRING)")
        graft.streaming.DedupStoreStream.runToCompletion(
          s, dir, s"$cat.g.store", checkpoint = s"$root/_ckpt")
        s.table(s"$cat.g.store")
          .agg(
            count(lit(1)).as("n_unique"),
            sum(col("doc_id")).as("key_sum"),
            (count(lit(1)) === countDistinct(col("sig"))).cast("long")
              .as("one_row_per_hash"))
      },
      Some("SELECT count(*) AS n_unique, CAST(SUM(kid) AS BIGINT) AS key_sum, " +
        "CAST(1 AS BIGINT) AS one_row_per_hash FROM " +
        "(SELECT min(doc_id) AS kid FROM " +
        "(SELECT doc_id, md5(text) AS h FROM documents) GROUP BY h)")),

    // Streaming NEAR-dup dedup against the persisted LSH signature
    // index (IndexStream over NearDupIngest) — the cross-batch
    // greedy-accept pipeline: 4 deterministic micro-batches (doc_id % 4,
    // in order), each batch exact-deduped within itself, near-dup-rejected
    // (jaccard >= 0.8) against every EARLIER batch's accepted docs via
    // the index, survivors' signatures appended idempotently. The
    // oracle replays the same greedy sequence as chained CTEs over
    // exact shingle sets, so the hash match proves LSH banding loses
    // no accept/reject decision AND the per-batch partition lifecycle
    // reassembles the exact history each batch.
    //
    // Hot-bucket divergence condition: the stream skips corpus buckets
    // larger than maxBucket on the serve path, and the oracle has no
    // hot-bucket concept — a batch doc ALL of whose 8 bands land on
    // skipped keys would be accepted regardless of true jaccard and
    // the gate would diverge. That requires a standing clique larger
    // than maxBucket (4096 here) sharing every band minimum with the
    // doc; this fixture (500 docs, no mass boilerplate) cannot produce
    // one, and production corpora that can are expected to run exact
    // dedup upstream (the documented division of labor in NearDupLsh).
    GraftQuery(
      "dd_stream_lsh_index",
      (s, dir) => {
        val root = TempDirs("graft_ndis_gate")
        val ingest = graft.streaming.NearDupIngest(s"$root/log",
          threshold = 0.8,
          maxBucket = graft.operators.NearDupLsh.DefaultMaxBucket)
        graft.streaming.IndexStream.runToCompletion(
          s, Tables.table(s, dir, "documents"), k = 4, ingest,
          indexRoot = s"$root/idx", checkpoint = s"$root/ckpt")
        ingest.acceptedLog(s)
          .groupBy(col("batch").cast("long").as("batch"))
          .agg(count(lit(1)).as("n_accepted"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some(streamLshOracle)),

    // The same greedy-accept lifecycle THROUGH A COMPACTION: batches 0-1
    // served and appended on the original index, then compactIndex folds
    // the committed history into batch=-1 at a fresh path (watermark =
    // last committed batch) and batches 2-3 continue against the
    // compacted index. The oracle is dd_stream_lsh_index's — a green row
    // proves compaction changes NO accept/reject decision mid-stream.
    GraftQuery(
      "dd_stream_lsh_compact",
      (s, dir) => {
        val root = TempDirs("graft_ndis_cpt")
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        def part(i: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === i)
        val st = graft.streaming.NearDupIngest(s"$root/log", 0.8,
          graft.operators.NearDupLsh.DefaultMaxBucket)
        st.applyBatch(s, s"$root/idx", 0L, part(0))
        st.applyBatch(s, s"$root/idx", 1L, part(1))
        graft.operators.NearDupLsh.compactIndex(
          s, s"$root/idx", s"$root/idx2", width = 4, throughBatch = 1L)
        st.applyBatch(s, s"$root/idx2", 2L, part(2))
        st.applyBatch(s, s"$root/idx2", 3L, part(3))
        st.acceptedLog(s)
          .groupBy(col("batch").cast("long").as("batch"))
          .agg(count(lit(1)).as("n_accepted"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some(streamLshOracle)),

    // The EXACT-index flavor of the streaming ingest: the same greedy
    // cross-batch accept lifecycle driven through the persisted PPJoin
    // index (IndexStream over PpJoinIngest: serve strictly-earlier
    // partitions → accept → appendIndex OVERWRITE into batch=<id>). The
    // oracle is dd_stream_lsh_index's greedy replay over exact shingle sets — and
    // unlike the LSH row there is NO hot-bucket divergence caveat: the
    // exact serve is zero-false-negative AND zero-false-positive by the
    // prefix-filter theorem, so the gate must hash-match on ANY corpus.
    GraftQuery(
      "dd_stream_ppjoin_index",
      (s, dir) => {
        val root = TempDirs("graft_ppis_gate")
        val ingest = graft.streaming.PpJoinIngest(s"$root/log", num = 4, den = 5)
        graft.streaming.IndexStream.runToCompletion(
          s, Tables.table(s, dir, "documents"), k = 4, ingest,
          indexRoot = s"$root/idx", checkpoint = s"$root/ckpt")
        ingest.acceptedLog(s)
          .groupBy(col("batch").cast("long").as("batch"))
          .agg(count(lit(1)).as("n_accepted"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some(streamLshOracle)),

    // The hash-keyed flavor of dd_span_dupes — the 100 TB shape: the
    // span-keyed shuffle carries a fixed 16-byte digest instead of the
    // span text (the span_dupes scale workload measured 3.9-9.7× less
    // shuffle at 1M-10M docs with xxhash64; here md5 so BOTH engines
    // compute the identical key and the gate hash-checks the whole
    // pipeline). Span text is
    // recoverable by re-scanning with a digest filter when a hit needs
    // inspection — the scan is cheaper than shipping every span.
    GraftQuery(
      "dd_span_dupes_hashed",
      (s, dir) => {
        val k = 8
        // the two aggregates group on the RAW 16-byte digest and only
        // the surviving (n_docs >= 2) rows render the hex string: the
        // span-keyed shuffles carry 16 bytes per window instead of the
        // 32-char hex text — exactly the "shuffle the digest, not the
        // span" rule this query exists to demonstrate (guide §2.3,
        // narrower types). unhex/lower(hex(..)) round-trips md5's
        // lowercase hex exactly, so the output column is byte-identical.
        //
        // ONE exchange, not two (r18, guide §2.4): the explicit
        // repartition on span_b alone satisfies BOTH aggregations'
        // distributions (HashPartitioning(span_b) clusters (span_b,
        // doc_id) too), so the (span, doc) occ-count layer and the
        // per-span doc layer run back-to-back in the post-shuffle stage
        // with no second exchange. Measured at sf0.1 (OPTIMIZATION_r18.md §4):
        // the old exchanges shipped 5.6 MB + 5.9 MB with near-zero
        // partial-agg compression between them (235,704 window rows →
        // 233,351 (span, doc) groups — within-doc repeat spans are
        // ~1%), so shipping the raw (span_b, doc_id) rows once is
        // strictly fewer bytes. No-num repartition stays AQE-coalescible
        // (bytes-adaptive at every scale); the skew exposure is the same
        // as before — the per-span layer always ends hash-clustered on
        // span_b — and span digests are near-unique by construction.
        spanStarts(Tables.table(s, dir, "documents"), k)
          .select(col("doc_id"),
            unhex(md5(array_join(slice(col("toks"), col("i"), lit(k)), " ")))
              .as("span_b"))
          .repartition(col("span_b"))
          .groupBy(col("span_b"), col("doc_id"))
          .agg(count(lit(1)).as("occ"))
          .groupBy(col("span_b"))
          .agg(
            sum(col("occ")).as("n_occurrences"),
            count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_doc"))
          .filter(col("n_docs") >= 2)
          .select(lower(hex(col("span_b"))).as("span_h"),
            col("n_occurrences"), col("n_docs"), col("first_doc"))
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "w AS (SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS span_h " +
        "FROM t, unnest(range(1, len(toks) - 7 + 1)) AS g(i)) " +
        "SELECT span_h, count(*) AS n_occurrences, " +
        "count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc " +
        "FROM w GROUP BY span_h HAVING count(DISTINCT doc_id) >= 2"),
      // bench headliner (replacing text-keyed dd_span_dupes): this IS the
      // production shape — the shuffle carries 16-byte digests, not spans
      bench = true),

    // Test-set decontamination (the GPT-3-style n-gram overlap pass):
    // flag corpus documents sharing >= 2 distinct token spans with any
    // held-out benchmark document (doc_id % 50 == 0 stands in for the
    // eval suite). The benchmark side is tiny by construction, so it
    // BROADCASTS — the corpus never shuffles, each task probes a local
    // hash map of benchmark spans; only matched (corpus_doc, bench_doc)
    // pairs reach the one aggregation shuffle. Production uses 8-13-gram
    // spans and a bloom pre-filter (dd_bloom_blocklist) when the
    // benchmark suite outgrows broadcast; 3-grams here exercise the
    // dataflow against the tiny synthetic vocabulary.
    GraftQuery(
      "dd_contamination",
      (s, dir) => {
        val k = 3
        val spans = spanStarts(Tables.table(s, dir, "documents"), k)
          .select(col("doc_id"),
            array_join(slice(col("toks"), col("i"), lit(k)), " ").as("span"))
          .dropDuplicates("doc_id", "span")
        val bench = spans.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("bench_doc"), col("span"))
        val corpus = spans.filter(col("doc_id") % 50 =!= 0)
        corpus.join(broadcast(bench), Seq("span"))
          .groupBy(col("doc_id"), col("bench_doc"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
      },
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks " +
        "FROM documents), " +
        "w AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS span " +
        "FROM t, unnest(range(1, len(toks) - 2 + 1)) AS g(i)), " +
        "bench AS (SELECT doc_id AS bench_doc, span FROM w WHERE doc_id % 50 = 0), " +
        "corpus AS (SELECT doc_id, span FROM w WHERE doc_id % 50 <> 0) " +
        "SELECT c.doc_id, b.bench_doc, count(*) AS n_shared " +
        "FROM corpus c JOIN bench b USING (span) " +
        "GROUP BY c.doc_id, b.bench_doc HAVING count(*) >= 2")))
}
