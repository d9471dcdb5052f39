package graft.sources

import java.nio.file.Path

import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.types._

/** Metadata-only answers for pushed-down aggregates over graft tables —
  * the lakehouse trick where `SELECT count(*), min(k), max(k) FROM t`
  * never opens a data file: the manifest knows live row counts and the
  * stats sidecar carries exact per-file min/max/null-count (collected at
  * write time, no truncation). At 100 TB this turns a full-table scan
  * into an O(files) driver fold over a few KB of sidecar.
  *
  * Strictly exact or refused: every kept file must be covered by the
  * sidecar, deletion vectors disqualify anything finer than count(*)
  * (a deleted row's value/null-ness is unknowable from stats), and a
  * NaN-poisoned range refuses min/max. Refusal returns None and the scan
  * falls back to the normal data-reading path — pushdown can only
  * replace work whose answer is provably identical.
  */
private[sources] object GraftAggPushdown {

  /** One field + one engine value (UTF8String/Long/Int/Double/Boolean or
    * null) per aggregate, in the aggregation's declared order.
    */
  final case class Result(schema: StructType, values: Array[Any])

  def compute(
      agg: Aggregation,
      dir: Path,
      tableSchema: StructType,
      state: Manifest): Option[Result] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val Manifest(_, files, dvs, _, _) = state
    val stats = GraftStats.read(dir, tableSchema)
    if (!files.forall(stats.contains)) return None
    val noDvs = files.forall(f => !dvs.contains(f))

    def colName(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def fieldOf(name: String): Option[StructField] =
      tableSchema.fields.find(_.name == name).filter(_.dataType match {
        case StringType | LongType | IntegerType | DoubleType | BooleanType => true
        case _ => false
      })
    // every file must carry an entry for the column: (entry, file rows)
    def colEntries(name: String): Option[Seq[(GraftStats.ColStats, Long)]] = {
      val pairs = files.map(f => stats(f).cols.get(name).map(c => (c, stats(f).rows)))
      if (pairs.exists(_.isEmpty)) None else Some(pairs.map(_.get))
    }
    // min/max additionally need a usable range in every file: a missing
    // range with non-null values present means NaN-poisoned (double) or
    // unparsed — the true extremum is unknowable. Null counts stay valid
    // under poisoning, so count(col) does NOT require this.
    def rangesUsable(entries: Seq[(GraftStats.ColStats, Long)]): Boolean =
      entries.forall { case (c, rows) => c.min != null || c.nulls == rows }

    val computed: Array[Option[(StructField, Any)]] =
      agg.aggregateExpressions().map {
        case _: CountStar =>
          val n = files.iterator
            .map(f => stats(f).rows - dvs.get(f).fold(0)(_.length))
            .sum
          Some(StructField("count_star", LongType, nullable = false) -> (n: Any))
        case c: Count if !c.isDistinct && noDvs =>
          for {
            name <- colName(c.column)
            _ <- fieldOf(name)
            entries <- colEntries(name)
          } yield StructField(s"count_$name", LongType, nullable = false) ->
            (entries.iterator.map { case (cs, rows) => rows - cs.nulls }.sum: Any)
        case m: Min if noDvs =>
          for {
            name <- colName(m.column)
            field <- fieldOf(name)
            entries <- colEntries(name) if rangesUsable(entries)
          } yield {
            val mins = entries.collect { case (c, _) if c.min != null => c.min }
            val v: Any =
              if (mins.isEmpty) null
              else mins.reduce((a, b) => if (GraftStats.compare(a, b) <= 0) a else b)
            StructField(s"min_$name", field.dataType) -> v
          }
        case m: Max if noDvs =>
          for {
            name <- colName(m.column)
            field <- fieldOf(name)
            entries <- colEntries(name) if rangesUsable(entries)
          } yield {
            val maxs = entries.collect { case (c, _) if c.max != null => c.max }
            val v: Any =
              if (maxs.isEmpty) null
              else maxs.reduce((a, b) => if (GraftStats.compare(a, b) >= 0) a else b)
            StructField(s"max_$name", field.dataType) -> v
          }
        case _ => None // Sum/Avg/distinct/UDAF: stats cannot answer exactly
      }

    if (computed.exists(_.isEmpty)) None
    else {
      val fields = computed.map(_.get)
      Some(Result(StructType(fields.map(_._1)), fields.map(_._2)))
    }
  }
}
