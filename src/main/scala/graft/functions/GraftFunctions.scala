package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64, aggregate}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions.call_function

/** Registration + Column API for the engine's native Catalyst expressions.
  * Registered per-session (idempotent) so they're callable both from the
  * Column API and from SQL text.
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    val registry = castToImpl(spark).sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinHashSig(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "sorted_set_jaccard",
      exprs => SortedSetJaccard(exprs.head, exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "ngram_hashes", exprs => NGramHashes(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs.head, exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "l2_dist2", exprs => L2Distance2(exprs.head, exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "image_meta", exprs => ImageMeta(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "audio_meta", exprs => AudioMeta(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "video_meta", exprs => VideoMeta(exprs.head), "scala_udf")
    // Spark's internal runtime-filter bloom expressions, surfaced as
    // session functions (the analyzer wraps the bare AggregateFunction
    // in an AggregateExpression on resolution). Values are hashed with
    // XxHash64 on both the build and probe side, matching
    // InjectRuntimeFilter's contract.
    registry.createOrReplaceTempFunction(
      "sum128", exprs => Sum128(exprs.head), "scala_udf")
    // the merge table rides as a string literal (wire form — see
    // BpeEncode.encodeMergesArg), decoded once at resolution
    registry.createOrReplaceTempFunction(
      "bpe_encode",
      exprs => BpeEncode(exprs.head,
        BpeEncode.decodeMergesArg(exprs(1).eval().toString)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "bpe_pairs",
      exprs => BpePairs(exprs.head,
        BpeEncode.decodeMergesArg(exprs(1).eval().toString)), "scala_udf")
    // cap is a literal at call sites; evaluated once at resolution
    registry.createOrReplaceTempFunction(
      "collect_capped",
      exprs => CollectCappedLongs(
        exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()),
      "scala_udf")
    registry.createOrReplaceTempFunction(
      "bloom_filter_agg",
      exprs => new aggregate.BloomFilterAggregate(
        new XxHash64(Seq(exprs.head)), exprs(1), exprs(2)),
      "scala_udf")
    registry.createOrReplaceTempFunction(
      "bloom_might_contain",
      exprs => BloomFilterMightContain(
        exprs.head, new XxHash64(Seq(exprs(1)))),
      "scala_udf")
    // plan hygiene that should hold wherever the engine's expressions are
    // in use: inferred size(array(...)) generate-guards fold away instead
    // of re-running the array construction at the scan (idempotent)
    org.apache.spark.sql.graft.GraftPlans.addOptimizations(
      spark, graft.plans.FoldKnownArraySizeGuards)
  }

  /** 64-bit polynomial rolling hash of a string column. */
  def rolling_hash(c: Column): Column = call_function("rolling_hash", c)

  /** 64-bit SimHash of an array<string> token column. */
  def simhash64(c: Column): Column = call_function("simhash64", c)

  /** k=32 MinHash signature (array<long>) of an array<string> column. */
  def minhash_sig(c: Column): Column = call_function("minhash_sig", c)

  /** Exact Jaccard of two sorted-distinct array<bigint> columns. */
  def sorted_set_jaccard(a: Column, b: Column): Column =
    call_function("sorted_set_jaccard", a, b)

  /** Sorted distinct 3-gram hashes of an array<string> token column. */
  def ngram_hashes(c: Column): Column = call_function("ngram_hashes", c)

  /** BPE tokens (array<string>) of a text column under a frozen merge
    * table — pre-tokenize, then greedy-by-rank merge (see BpeEncode).
    */
  def bpe_encode(c: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_encode", c,
      org.apache.spark.sql.functions.lit(BpeEncode.encodeMergesArg(merges)))

  /** Adjacent symbol-pair keys of every pre-token under a merge table —
    * the BPE trainer's counting input (see BpePairs).
    */
  def bpe_pairs(c: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_pairs", c,
      org.apache.spark.sql.functions.lit(BpeEncode.encodeMergesArg(merges)))

  /** Fused-loop dot product of two array<double> columns. */
  def dot_product(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Fused-loop squared L2 distance of two array<double> columns. */
  def l2_dist2(a: Column, b: Column): Column =
    call_function("l2_dist2", a, b)

  /** Image-container header sniff of a binary column:
    * struct<format, width, height>, null if unrecognized.
    */
  def image_meta(c: Column): Column = call_function("image_meta", c)

  /** Audio-container header sniff of a binary column:
    * struct<format, sample_rate, channels, bits>, null if unrecognized.
    */
  def audio_meta(c: Column): Column = call_function("audio_meta", c)

  /** Video-container header sniff of a binary column:
    * struct<format, duration_ms, width, height>, null if unrecognized.
    */
  def video_meta(c: Column): Column = call_function("video_meta", c)

  /** Exact 126-bit sum of a long column (DECIMAL(38,0) result); per-row
    * work stays in codegen'd long arithmetic — see [[Sum128]].
    */
  def sum128(c: Column): Column = call_function("sum128", c)

  /** Size-capped collect_list over a bigint column with the true group
    * count: struct(ds: all elements iff n <= cap else empty, n).
    */
  def collect_capped(c: Column, cap: Int): Column =
    call_function("collect_capped", c, org.apache.spark.sql.functions.lit(cap))

  /** Aggregate `c` into a serialized bloom filter (binary). */
  def bloom_filter_agg(c: Column, expectedItems: Long, numBits: Long): Column =
    call_function("bloom_filter_agg", c,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))

  /** True if the bloom filter (a binary literal) might contain `c`;
    * false means definitely absent.
    */
  def bloom_might_contain(bloom: Column, c: Column): Column =
    call_function("bloom_might_contain", bloom, c)
}
