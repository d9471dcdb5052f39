package graft

import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The engine's session tunables: the one place where a `spark.graft.*`
  * key, its default and its legal range are written (docs/TUNABLES.md
  * says what each one flips and how its default was sized).
  *
  * Each entry has one read, `entry(spark)` or `entry(sqlConf)`. An unset
  * key gives the default; a malformed or out-of-range value throws an
  * IllegalArgumentException naming the key and the value. Validation
  * happens at the read, never at `conf.set`, so a bad value fails only
  * the code paths that consume its key (a JSON-table write never reads
  * the parquet row-group size).
  */
object Tunables {

  sealed abstract class Entry[T](val key: String, val default: T, legal: String) {
    protected def parse(raw: String): Option[T]
    def apply(spark: SparkSession): T = resolve(spark.conf.getOption(key))
    def apply(conf: SQLConf): T = resolve(Option(conf.getConfString(key, null)))
    private def resolve(raw: Option[String]): T = raw.fold(default)(r => parse(r).getOrElse(
      throw new IllegalArgumentException(s"$key must be $legal, got '$r'")))
  }

  /** An integer in [`min`, `max`]. */
  final class Num(key: String, default: Long, val min: Long, val max: Long)
      extends Entry[Long](key, default, s"an integer in [$min, $max]") {
    protected def parse(raw: String): Option[Long] =
      raw.toLongOption.filter(n => n >= min && n <= max)
  }

  /** `true` or `false`, in any case. */
  final class Flag(key: String, default: Boolean)
      extends Entry[Boolean](key, default, "true or false") {
    protected def parse(raw: String): Option[Boolean] = raw.toBooleanOption
  }

  /** One of `values`, in any case; reads as the lower-case value. */
  final class Choice(key: String, default: String, values: Seq[String])
      extends Entry[String](key, default, values.mkString("one of ", "|", "")) {
    protected def parse(raw: String): Option[String] =
      Some(raw.toLowerCase(java.util.Locale.ROOT)).filter(values.contains)
  }

  // index serves and lifecycles; the broadcast budget's max leaves room
  // for the serve probe's + 1
  val ServeBroadcastMaxRows =
    new Num("spark.graft.index.serveBroadcastMaxRows", 2000000L, 0L, Long.MaxValue - 1)
  val ServeKeyPruneLimit = new Num("spark.graft.index.serveKeyPruneLimit", 10000L, 0L, Int.MaxValue)
  val CompactMinBatches = new Num("spark.graft.index.compactMinBatches", 16L, 1L, Int.MaxValue)
  val AutoMaintain = new Flag("spark.graft.index.autoMaintain", false)

  // operator broadcast and width guards
  val LshSampledTierMinBytes =
    new Num("spark.graft.lsh.sampledTierMinBytes", 256L << 20, 0L, Long.MaxValue)
  val PpjoinServeCandidateBroadcastMaxRows =
    new Num("spark.graft.ppjoin.serveCandidateBroadcastMaxRows", 8000000L, 0L, Long.MaxValue)
  val CcRelabelBroadcastMaxRows =
    new Num("spark.graft.cc.relabelBroadcastMaxRows", 4000000L, 0L, Long.MaxValue)
  val TopkMaxKeysInMemory = new Num("spark.graft.topk.maxKeysInMemory", 4194304L, 0L, Int.MaxValue)
  val RepartitionBytesPerPartition =
    new Num("spark.graft.repartitionBytesPerPartition", 8L << 20, 1L, Long.MaxValue)

  // catalog tables
  val ColumnarRead = new Flag("spark.graft.catalog.columnarRead", true)
  val RowGroupSkip = new Flag("spark.graft.catalog.rowGroupSkip", true)
  val ParquetRowGroupBytes = new Num("spark.graft.parquet.rowGroupBytes",
    ParquetWriter.DEFAULT_BLOCK_SIZE.toLong, 1L, Long.MaxValue)
  val MaintainMaxFiles = new Num("spark.graft.catalog.maintainMaxFiles", 64L, 0L, Int.MaxValue)
  val MaintainSmallBytes =
    new Num("spark.graft.catalog.maintainSmallBytes", 8L << 20, 0L, Long.MaxValue)
  val SnapshotRetentionMs =
    new Num("spark.graft.catalog.snapshotRetentionMs", 7L * 24 * 3600 * 1000, 0L, Long.MaxValue)
  val DeleteMode = new Choice("spark.graft.delete.mode", "cow", Seq("cow", "mor"))

  val all: Seq[Entry[_]] = Seq(ServeBroadcastMaxRows, ServeKeyPruneLimit, CompactMinBatches,
    AutoMaintain, LshSampledTierMinBytes, PpjoinServeCandidateBroadcastMaxRows,
    CcRelabelBroadcastMaxRows, TopkMaxKeysInMemory, RepartitionBytesPerPartition, ColumnarRead,
    RowGroupSkip, ParquetRowGroupBytes, MaintainMaxFiles, MaintainSmallBytes,
    SnapshotRetentionMs, DeleteMode)
}
