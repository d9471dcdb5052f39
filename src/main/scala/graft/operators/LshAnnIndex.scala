package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted multi-probe LSH ANN index — the fifth index lifecycle,
  * giving the cosine-LSH serve the same build → append → serve →
  * compact → maintain artifact path the IVF family has (the inline
  * variant lives in queries/Similarity.lshAnn; this is its production
  * shape, where hashing the corpus is a nightly job and a serve never
  * re-hashes).
  *
  * Quantizer: a FROZEN random-hyperplane table persisted at build time
  * (`planes/`, like IVF's `centroids/`) — signature bit p =
  * sign(v·plane_p); the signature splits into `bands` equal bit
  * slices. The corpus lands as (vec_id, v, norm2) rows duplicated once
  * per band, partitioned `batch=<id>/band=<b>/band_val=<v>`: a serve
  * reads ONLY the probed bucket partitions of each batch (partition
  * pruning — the IVF-cell pattern), rescoring inline with no second
  * corpus pass. The duplication (× bands) is the classic LSH-table
  * trade — each hash table stores its points — bought deliberately:
  * the slim-bucket alternative (ids only) needs a rescore join against
  * the vector table that degenerates to a full scan per serve at
  * corpus scale.
  *
  * Multi-probe serve (Lv et al., VLDB'07): each query band also probes
  * its Hamming-1 neighbor buckets in the first `probeBits` in-band
  * bits. The fan-out lives entirely on the broadcast QUERY side —
  * (1 + probeBits)× probe rows against the same pruned corpus read per
  * probed bucket — exactly the inline operator's trade, so given the
  * same plane table the persisted serve returns the IDENTICAL top-k
  * (spec- and gate-pinned), while touching only bucket partitions.
  *
  * Lifecycle mechanics are the shared IndexLifecycle contract: appends
  * OVERWRITE their own `batch=<id>` partitions (crash-idempotent, ids
  * unique per delivery), serves cut strictly-earlier, compaction folds
  * committed batches into `batch=-1` with planes/meta copied VERBATIM
  * (compaction never re-hashes — every serve is identical on the
  * compacted index), `maintain` triggers on the committed batch-dir
  * count, and IndexGenerations adoption works unchanged (the corpus
  * lives under `corpus/`, so generation dirs never collide with a
  * flat parquet root).
  */
object LshAnnIndex extends PersistedIndex {

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  private def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (sqrt(na) * sqrt(nb)), 6)

  /** Signature under a plane table: bit p = sign(v·plane_p). LONG bit
    * arithmetic throughout — an Int accumulator would silently alias
    * shifts past bit 31 (two planes summing into one wrapped bit carry
    * into a NEIGHBORING band's bits, and build/serve hash consistently
    * with the same corrupted function, so recall degrades with no
    * error); writeIndex bounds the table at 63 planes to match.
    */
  private def signature(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedlit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  // band values stay INT (writeIndex bounds bandBits accordingly): the
  // partition-inferred read-back type must match the probe side's, or
  // the bucket join would coerce through casts and lose pruning
  private def bandCols(sig: Column, bands: Int, bandBits: Int): Column =
    posexplode(array((0 until bands).map { j =>
      shiftright(sig, bandBits * j).bitwiseAND(lit((1L << bandBits) - 1))
        .cast("int")
    }: _*))

  /** (vec_id, v, norm2, band, band_val) — one row per vector per band
    * under the given plane table.
    */
  private def withBands(vectors: DataFrame, planes: Seq[Seq[Double]],
      bands: Int): DataFrame = {
    val bandBits = planes.size / bands
    vectors
      .withColumn("sig", signature(col("v"), planes))
      .select(col("vec_id"), col("v"), col("norm2"),
        bandCols(col("sig"), bands, bandBits).as(Seq("band", "band_val")))
      .drop("sig")
  }

  /** Bucket-clustered write: one task (→ one file) per (band, band_val)
    * bucket per batch dir — the same pre-write clustering as IVF's
    * writeCells, for the same reason (W input partitions × bands ×
    * 2^bandBits tiny files otherwise).
    */
  private def writeBuckets(banded: DataFrame, targetDir: String): Unit =
    banded.repartition(col("band"), col("band_val"))
      .write.mode("overwrite").partitionBy("band", "band_val")
      .parquet(targetDir)

  /** Build: persist the FROZEN plane table, the banding meta, and the
    * bucket-partitioned corpus bootstrap (`batch=-1`). `planes.size`
    * must split evenly into `bands`.
    */
  def writeIndex(vectors: DataFrame, path: String,
      planes: Seq[Seq[Double]], bands: Int): Unit = {
    require(planes.nonEmpty && bands > 0 && planes.size % bands == 0,
      s"plane count ${planes.size} must split into $bands equal bands")
    require(planes.size <= 63,
      s"at most 63 planes (long signature bits), got ${planes.size}")
    require(planes.size / bands <= 31,
      s"band width ${planes.size / bands} bits must fit an int band_val")
    val spark = vectors.sparkSession
    import spark.implicits._
    planes.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("plane_id", "plane")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/planes")
    Seq((bands, planes.size / bands)).toDF("bands", "band_bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    writeBuckets(
      withBands(vectors.select(col("vec_id"), col("v"), col("norm2")),
        planes, bands),
      s"$path/corpus/batch=-1")
  }

  def readPlanes(spark: SparkSession, path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/planes")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq

  /** (bands, bandBits) from the meta artifact. */
  def readMeta(spark: SparkSession, path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getInt(0), r.getInt(1))
  }

  def batchedDirs(path: String): Seq[String] = Seq(s"$path/corpus")

  /** Append under the FROZEN plane table. */
  protected def writeBatch(vectors: DataFrame, path: String,
      batchId: Long): Unit = {
    val spark = vectors.sparkSession
    val (bands, _) = readMeta(spark, path)
    writeBuckets(
      withBands(vectors.select(col("vec_id"), col("v"), col("norm2")),
        readPlanes(spark, path), bands),
      s"$path/corpus/batch=$batchId")
  }

  /** ANN top-k per query from the persisted artifacts only. `queries`
    * needs (query_id, qv, qn); `probeBits` ≤ bandBits adds the
    * Hamming-1 probes. `maxBatchExclusive` is the strictly-earlier
    * serve cut.
    */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      probeBits: Int, k: Int,
      maxBatchExclusive: Option[Long] = None): DataFrame = {
    val planes = readPlanes(spark, path)
    val (bands, bandBits) = readMeta(spark, path)
    require(probeBits >= 0 && probeBits <= bandBits,
      s"probeBits in [0,$bandBits]: $probeBits")
    val probeVals =
      col("band_val") +: (0 until probeBits).map(b =>
        col("band_val").bitwiseXOR(lit(1 << b)))
    val probes = queries
      .withColumn("sig", signature(col("qv"), planes))
      .select(col("query_id"), col("qv"), col("qn"),
        bandCols(col("sig"), bands, bandBits).as(Seq("band", "band_val")))
      .select(col("band"),
        explode(array(probeVals: _*)).as("band_val"),
        col("query_id"), col("qv"), col("qn"))
    val indexed = IndexLifecycle
      .cutBatches(spark.read.parquet(s"$path/corpus"), maxBatchExclusive)
      .select(col("band"), col("band_val"),
        col("vec_id").as("neighbor_id"), col("v"), col("norm2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    indexed.join(broadcast(probes), Seq("band", "band_val"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v"), col("qn"), col("norm2")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The compaction fold: committed batches land in ONE `batch=-1`
    * partition set (still bucket-partitioned); planes/meta copy VERBATIM
    * (compaction never re-hashes, so every serve is identical).
    */
  protected def fold(spark: SparkSession, path: String, targetPath: String,
      width: Int, throughBatch: Long, tails: Map[String, Seq[Long]]): Unit = {
    spark.read.parquet(s"$path/planes")
      .write.mode("overwrite").parquet(s"$targetPath/planes")
    spark.read.parquet(s"$path/meta")
      .write.mode("overwrite").parquet(s"$targetPath/meta")
    val all = spark.read.parquet(s"$path/corpus")
    def cols(df: DataFrame) = df.select(col("vec_id"), col("v"),
      col("norm2"), col("band"), col("band_val"))
    writeBuckets(cols(all.filter(col("batch") <= throughBatch)),
      s"$targetPath/corpus/batch=-1")
    tails(s"$path/corpus").foreach { b =>
      writeBuckets(cols(all.filter(col("batch") === b)),
        s"$targetPath/corpus/batch=$b")
    }
  }
}
