package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: the smoke entry returns rows, names are
  * unique, every oracle key refers to a query.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("entry flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(SparkTestSession.spark).count() > 0)
  }

  test("query names are unique and oracle keys all resolve") {
    val names = GraftQuery.all.map(_.name)
    assert(names.distinct.size == names.size,
      names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }.mkString(","))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query analyzes against sf0.001 (no unresolved plans)") {
    assert(BuiltQueries.all.map(_._1) == GraftQuery.all.map(_.name).sorted)
    BuiltQueries.all.foreach { case (name, df) => assert(df.schema.nonEmpty, name) }
  }
}
