package graft.operators

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.{PathGuardSpec, SparkEntry, SparkTestSession}
import graft.obs.{PlanWalk, StageRecorder}

/** Exchange shape of the shared exact-pair rescore, read from the final
  * adaptive plans of the two queries that use it. With `sets` broadcast
  * the regroup must reuse the candidate dedup's `(doc_a, doc_b)`
  * partitioning, so no shingle array crosses a shuffle above it; with
  * broadcasts off the corpus-sized `sets` relation must still be
  * shuffled only once.
  */
class ExactPairsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = s"${PathGuardSpec.TestDataRoot}/sf0.01"
  private val queries = Seq("dd_jaccard_ppjoin", "dd_minhash_lsh")

  /** The query's sorted rows and every operator of the plans its run finished with. */
  private def run(s: SparkSession, name: String): (Seq[String], Seq[SparkPlan]) = {
    val rec = StageRecorder.record(s)(SparkEntry.queries(name)(s, dir).collect().toSeq)
    val nodes = rec.executions.flatMap(qe => PlanWalk.nodes(qe.executedPlan)).map(_._2)
    assert(shuffles(nodes).nonEmpty, s"$name: no shuffle recorded")
    (rec.value.map((r: Row) => r.mkString(",")).sorted, nodes)
  }

  private def shuffles(nodes: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    nodes.collect { case e: ShuffleExchangeExec => e }

  private def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case _ => Nil
  }

  private def carriesArray(e: ShuffleExchangeExec): Boolean =
    e.output.exists(_.dataType.isInstanceOf[ArrayType])

  private def below(e: ShuffleExchangeExec) = PlanWalk.nodes(e.child).map(_._2)

  /** A shuffle of a scan-derived array relation: the `sets` lookup side. */
  private def isSetsShuffle(e: ShuffleExchangeExec): Boolean =
    carriesArray(e) && below(e).forall {
      case _: Exchange | _: BaseJoinExec => false
      case _ => true
    }

  /** Every join input read from a `sets` shuffle. A reused exchange counts
    * as a read: Spark reuses an identical shuffle of the parquet fixture,
    * but not of a source whose scans it cannot prove equal (the synthetic
    * scale corpus), where every read is a shuffle of its own.
    */
  private def setsReads(nodes: Seq[SparkPlan]): Seq[SparkPlan] = nodes.collect {
    case e: ShuffleExchangeExec if isSetsShuffle(e) => e
    case r @ ReusedExchangeExec(_, e: ShuffleExchangeExec) if isSetsShuffle(e) => r
  }

  /** A child session: the defaults, whatever runtime confs other suites
    * left on the shared session.
    */
  private def session(confs: (String, String)*): SparkSession = {
    val child = spark.newSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  private lazy val broadcastRuns = queries.map(q => q -> run(session(), q)).toMap

  queries.foreach { q =>
    test(s"$q: with sets broadcast, no shingle array crosses a shuffle above the dedup") {
      val (rows, nodes) = broadcastRuns(q)
      assert(rows.nonEmpty, s"$q: fixture should yield pairs")
      val xs = shuffles(nodes)
      val dedup = xs.filter(keys(_) == Seq("doc_a", "doc_b"))
      assert(dedup.size == 1, s"$q: exchanges keyed on (doc_a, doc_b):\n${dedup.mkString("\n")}")
      val above = xs.filter(e => below(e).exists(_ eq dedup.head))
      assert(!above.exists(carriesArray),
        s"$q: array-carrying exchange above the dedup:\n${above.filter(carriesArray).mkString("\n")}")
    }

    test(s"$q: with broadcasts off, sets is shuffled once and the rows are unchanged") {
      val (rows, nodes) = run(session("spark.sql.autoBroadcastJoinThreshold" -> "-1"), q)
      val reads = setsReads(nodes)
      assert(reads.size == 1, s"$q: reads of a sets shuffle:\n${reads.mkString("\n")}")
      assert(rows == broadcastRuns(q)._1, s"$q: rows differ from the broadcast run")
    }
  }
}
