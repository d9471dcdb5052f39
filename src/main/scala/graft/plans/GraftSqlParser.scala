package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import graft.sources.GraftCatalog.tableDir

/** SQL surface for the engine's table-maintenance operations, injected
  * via `SparkSessionExtensions.injectParser` — the deployment path for
  * SQL-only surfaces (Thrift server, notebooks) where nobody can call
  * the Scala maintenance API:
  *
  *   OPTIMIZE cat.ns.t ZORDER BY (x, y) [INTO n FILES]
  *   OPTIMIZE cat.ns.t COMPACT SMALL FILES [MIN <bytes> TARGET <bytes>]
  *   VACUUM cat.ns.t RETAIN <n> HOURS
  *   ALTER TABLE cat.ns.t CREATE BRANCH b   -- WAP fork
  *   ALTER TABLE cat.ns.t PUBLISH BRANCH b  -- atomic fast-forward
  *   ALTER TABLE cat.ns.t DROP BRANCH b
  *
  * Anything else delegates verbatim to the stock parser, so the
  * extension can never change the semantics of standard SQL.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenance(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private val Zorder =
    """(?is)\s*OPTIMIZE\s+([\w.]+)\s+ZORDER\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)(?:\s+INTO\s+(\d+)\s+FILES)?\s*;?\s*""".r
  private val CompactSmall =
    """(?is)\s*OPTIMIZE\s+([\w.]+)\s+COMPACT\s+SMALL\s+FILES(?:\s+MIN\s+(\d+)\s+TARGET\s+(\d+))?\s*;?\s*""".r
  private val Vacuum =
    """(?is)\s*VACUUM\s+([\w.]+)\s+RETAIN\s+(\d+)\s+HOURS\s*;?\s*""".r
  private val CreateBranch =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+BRANCH\s+([\w-]+)\s*;?\s*""".r
  private val PublishBranch =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+PUBLISH\s+BRANCH\s+([\w-]+)\s*;?\s*""".r
  private val DropBranch =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+BRANCH\s+([\w-]+)\s*;?\s*""".r

  private def out(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())

  /** The maintenance statement's plan, or None for standard SQL. */
  def maintenance(sql: String): Option[LogicalPlan] = sql match {
    case Zorder(fqn, x, y, files) => Some(GraftMaintenance(
      s"OPTIMIZE $fqn ZORDER BY ($x, $y)", out("rows"),
      s => Seq(Row(graft.sources.GraftOptimize.zorderBy(s, fqn, x, y,
        Option(files).map(_.toInt).getOrElse(8))))))
    case CompactSmall(fqn, mn, tgt) => Some(GraftMaintenance(
      s"OPTIMIZE $fqn COMPACT SMALL FILES", out("files_before", "files_after"),
      s => {
        val (b, a) = graft.sources.GraftCatalog.compactSmall(
          tableDir(s, fqn), s.table(fqn).schema,
          minBytes = Option(mn).map(_.toLong).getOrElse(32L << 20),
          targetBytes = Option(tgt).map(_.toLong).getOrElse(128L << 20))
        Seq(Row(b.toLong, a.toLong))
      }))
    case Vacuum(fqn, hours) => Some(GraftMaintenance(
      s"VACUUM $fqn RETAIN $hours HOURS", out("expired", "swept"),
      s => {
        val (expired, swept) = graft.sources.GraftCatalog.expireSnapshots(
          tableDir(s, fqn), olderThanMillis = hours.toLong * 3600L * 1000L)
        Seq(Row(expired.size.toLong, swept.size.toLong))
      }))
    // write-audit-publish branch DDL (see GraftCatalog.createBranch):
    // stage with writeTo(t).option("branch", b), audit with
    // VERSION AS OF '<b>', then PUBLISH fast-forwards main atomically
    case CreateBranch(fqn, branch) => Some(GraftMaintenance(
      s"ALTER TABLE $fqn CREATE BRANCH $branch", out("ok"),
      s => { graft.sources.GraftCatalog.createBranch(tableDir(s, fqn), branch)
        Seq(Row(1L)) }))
    case PublishBranch(fqn, branch) => Some(GraftMaintenance(
      s"ALTER TABLE $fqn PUBLISH BRANCH $branch", out("snapshot_version"),
      s => Seq(Row(
        graft.sources.GraftCatalog.publishBranch(tableDir(s, fqn), branch)))))
    case DropBranch(fqn, branch) => Some(GraftMaintenance(
      s"ALTER TABLE $fqn DROP BRANCH $branch", out("ok"),
      s => { graft.sources.GraftCatalog.dropBranch(tableDir(s, fqn), branch)
        Seq(Row(1L)) }))
    case _ => None
  }
}

/** A maintenance statement as a runnable command node: executes on the
  * driver at `collect()` like any DDL, returns its summary row(s).
  */
case class GraftMaintenance(
    label: String,
    override val output: Seq[Attribute],
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = body(session)
  override def simpleString(maxFields: Int): String = s"GraftMaintenance($label)"
}
