package graft.operators

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.{PathGuardSpec, SparkEntry, SparkTestSession}
import graft.obs.{PlanWalk, StageRecorder}

/** Exchange shape of the two queries that use the shared exact-pair
  * rescore, read from the final adaptive plans of their runs.
  *
  * At the default budget the prefix-filter join runs at width 1 over the
  * fixture: one partition end to end, so it must plan no shuffle at all.
  * Where a query does shuffle (MinHash LSH, and the prefix-filter join
  * forced wider than one partition), the regroup must reuse the
  * candidate dedup's `(doc_a, doc_b)` partitioning with `sets` broadcast,
  * so no shingle array crosses a shuffle above it; with broadcasts off
  * the corpus-sized `sets` lookup must still be shuffled only once, and
  * the corpus itself shuffled on doc_id only once.
  */
class ExactPairsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = s"${PathGuardSpec.TestDataRoot}/sf0.01"
  private val ppjoin = "dd_jaccard_ppjoin"
  private val lsh = "dd_minhash_lsh"
  /** A per-partition byte budget that clamps every adaptive width to
    * `spark.sql.shuffle.partitions`.
    */
  private val wide = "spark.graft.repartitionBytesPerPartition" -> "64"

  /** The query's sorted rows and every operator of the plans its run finished with. */
  private def run(s: SparkSession, name: String): (Seq[String], Seq[SparkPlan]) = {
    val rec = StageRecorder.record(s)(SparkEntry.queries(name)(s, dir).collect().toSeq)
    val nodes = rec.executions.flatMap(qe => PlanWalk.nodes(qe.executedPlan)).map(_._2)
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

  private def below(p: SparkPlan) = PlanWalk.nodes(p).map(_._2)

  /** Every shuffle read on the `sets` side of a lookup join: the join
    * input that carries the shingle arrays `sh` and has no join below it.
    * The shuffle is of `sets` itself, or of the corpus `sets` is derived
    * from. A reused exchange counts as a read: Spark reuses an identical
    * shuffle of any source whose scans compare equal (the parquet
    * fixture, the synthetic scale corpus); a source whose scans do not
    * compare equal makes every read a shuffle of its own.
    */
  private def setsReads(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
    nodes.collect { case j: BaseJoinExec => j }.flatMap(_.children.filter(c =>
      c.output.exists(a => a.name == "sh" && a.dataType.isInstanceOf[ArrayType]) &&
        !below(c).exists(_.isInstanceOf[BaseJoinExec])))
      .flatMap(c => below(c).collect {
        case e: ShuffleExchangeExec => e
        case r @ ReusedExchangeExec(_, _: ShuffleExchangeExec) => r
      })

  /** Shuffles of the corpus on doc_id outside any broadcast subtree:
    * scan-derived (no exchange or join below), so the frequency sample
    * under its broadcast does not count. Every `sets` read past the first
    * must reuse one of these, not shuffle the corpus again.
    */
  private def corpusShuffles(nodes: Seq[SparkPlan]): Seq[ShuffleExchangeExec] = {
    val broadcastSide = nodes.collect { case b: BroadcastExchangeExec => below(b.child) }.flatten
    shuffles(nodes).filter(e => keys(e) == Seq("doc_id") && !broadcastSide.exists(_ eq e) &&
      below(e.child).forall {
        case _: Exchange | _: BaseJoinExec => false
        case _ => true
      })
  }

  /** A child session: the defaults, whatever runtime confs other suites
    * left on the shared session.
    */
  private def session(confs: (String, String)*): SparkSession = {
    val child = spark.newSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  private lazy val defaultPpjoin = run(session(), ppjoin)

  test(s"$ppjoin: at the default budget the fixture plans no shuffle") {
    val (rows, nodes) = defaultPpjoin
    assert(rows.nonEmpty, s"$ppjoin: fixture should yield pairs")
    assert(shuffles(nodes).isEmpty,
      s"$ppjoin: shuffles planned at width 1:\n${shuffles(nodes).mkString("\n")}")
  }

  /** The shuffling cases and their confs: the prefix-filter join runs
    * forced wider than one partition.
    */
  private val cases = Seq(lsh -> Nil, ppjoin -> Seq(wide))

  private lazy val broadcastRuns =
    cases.map { case (q, confs) => q -> run(session(confs: _*), q) }.toMap

  cases.foreach { case (q, confs) =>
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
      val (rows, nodes) =
        run(session(confs :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1"): _*), q)
      val reads = setsReads(nodes)
      assert(reads.size == 1, s"$q: reads of a sets shuffle:\n${reads.mkString("\n")}")
      val corpus = corpusShuffles(nodes)
      assert(corpus.size == 1, s"$q: corpus shuffles on doc_id:\n${corpus.mkString("\n")}")
      assert(rows == broadcastRuns(q)._1, s"$q: rows differ from the broadcast run")
    }
  }

  test(s"$ppjoin: the rows at width > 1 equal the width-1 rows") {
    assert(broadcastRuns(ppjoin)._1 == defaultPpjoin._1)
  }
}
