package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 batch source generating a deterministic synthetic
  * document corpus — the engine's datagen for arbitrary-scale testing
  * (the pattern TPC generators use: no input files, rows derive from
  * (seed, row id), so a 100 TB corpus needs zero storage and each
  * InputPartition generates its slice independently).
  *
  *   spark.read.format("graft-docs")
  *     .option("rows", 1e6).option("partitions", 64).option("seed", 42)
  *     .load()  // doc_id bigint, text string, lang string, n_chars bigint
  *
  * Implements column pruning (SupportsPushDownRequiredColumns): a
  * doc_id-only scan never materializes the text.
  */
class SyntheticDocsSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-docs"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticDocsSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SyntheticDocsTable(properties.asScala.toMap)
}

object SyntheticDocsSource {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  val vocab: IndexedSeq[String] =
    "the a of data spark table row scan filter join agg hash sort merge stream batch window key value fast slow big small"
      .split(" ").toIndexedSeq
  val langs: IndexedSeq[String] = IndexedSeq("en", "es", "de", "fr", "zh")

  def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** Word k of a vocabulary of `vocabSize` words: the 23 base words, then
    * synthetic tokens — a wide vocabulary makes shingles discriminative
    * (realistic for near-dup benchmarks; the tiny default saturates).
    */
  def word(k: Int, vocabSize: Int): String =
    if (k < vocab.length) vocab(k) else "w" + k

  /** Deterministic text for (seed, id): 20–120 vocab words. */
  def textFor(seed: Long, id: Long): String = textFor(seed, id, vocab.length)

  def textFor(seed: Long, id: Long, vocabSize: Int): String = {
    val h0 = mix64(seed ^ id)
    val n = 20 + (Math.floorMod(h0, 101L)).toInt
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    var h = h0
    while (i < n) {
      h = mix64(h)
      if (i > 0) sb.append(' ')
      sb.append(word(Math.floorMod(h, vocabSize.toLong).toInt, vocabSize))
      i += 1
    }
    sb.toString
  }

  /** Document text honoring dupRate: a `dupRate` fraction of docs are
    * near-copies of their predecessor (one word substituted at a
    * deterministic position) — planted near-duplicates for dedup
    * benchmarking. Deterministic in (seed, id).
    */
  def docText(seed: Long, id: Long, vocabSize: Int, dupRate: Double): String = {
    val isDup = id > 0 && dupRate > 0 &&
      Math.floorMod(mix64(id ^ (seed * 31 + 7)), 1000000L) < (dupRate * 1000000L).toLong
    if (!isDup) textFor(seed, id, vocabSize)
    else {
      val words = textFor(seed, id - 1, vocabSize).split(" ")
      val h = mix64(id * 13 ^ seed)
      words(Math.floorMod(h, words.length.toLong).toInt) =
        word(Math.floorMod(mix64(h), vocabSize.toLong).toInt, vocabSize)
      words.mkString(" ")
    }
  }
}

private class SyntheticDocsTable(props: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String = "graft_synthetic_docs"
  override def schema(): StructType = SyntheticDocsSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SyntheticDocsScanBuilder(
      rows = options.getLong("rows", 1000L),
      partitions = options.getInt("partitions", 8),
      seed = options.getLong("seed", 42L),
      vocabSize = options.getInt("vocabSize", SyntheticDocsSource.vocab.length),
      dupRate = options.getDouble("dupRate", 0.0d))
}

private class SyntheticDocsScanBuilder(
    rows: Long, partitions: Int, seed: Long, vocabSize: Int, dupRate: Double)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = SyntheticDocsSource.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    SyntheticDocsScan(required, rows, partitions, seed, vocabSize, dupRate)
}

/** A case class, so two reads of one corpus compare equal and Spark can
  * reuse one exchange for both (`ReusedExchangeExec`).
  */
private case class SyntheticDocsScan(
    required: StructType, rows: Long, partitions: Int, seed: Long,
    vocabSize: Int, dupRate: Double) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val per = math.max(1L, (rows + partitions - 1) / partitions)
    (0 until partitions).flatMap { p =>
      val start = p * per
      val end = math.min(rows, start + per)
      if (start < end) Some(DocsPartition(start, end): InputPartition) else None
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new DocsReaderFactory(required, seed, vocabSize, dupRate)
}

private case class DocsPartition(start: Long, end: Long) extends InputPartition

private class DocsReaderFactory(
    required: StructType, seed: Long, vocabSize: Int, dupRate: Double)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val DocsPartition(start, end) = partition
    val colIdx = required.fieldNames
    new PartitionReader[InternalRow] {
      private var id = start - 1
      override def next(): Boolean = { id += 1; id < end }
      override def get(): InternalRow = {
        // generate text lazily only if any text-derived column is needed
        lazy val text = SyntheticDocsSource.docText(seed, id, vocabSize, dupRate)
        val values = colIdx.map {
          case "doc_id" => id
          case "text" => UTF8String.fromString(text)
          case "lang" =>
            UTF8String.fromString(SyntheticDocsSource.langs(
              Math.floorMod(SyntheticDocsSource.mix64(id ^ (seed + 1)),
                SyntheticDocsSource.langs.size.toLong).toInt))
          case "n_chars" => text.length.toLong
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }
      override def close(): Unit = ()
    }
  }
}
