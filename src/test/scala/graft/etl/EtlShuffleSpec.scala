package graft.etl

import java.io.File

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.obs.{PlanWalk, StageRecorder}

/** A whole `EntregasEtl.run()` shuffles its input once, by the sink's
  * partition column into at most one partition per input split, and
  * writes one file per date directory.
  */
class EtlShuffleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val input = SequentialEtl.multiPartInput(spark)

  for (partitions <- Seq(4, 9, Runtime.getRuntime.availableProcessors).distinct)
    test(s"one hash exchange on fecha_proceso, no wider than the input, " +
      s"and one file per date (shuffle partitions = $partitions)") {
      val session = spark.newSession()
      session.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      val out = graft.TestDirs("graft_etl_shuffle").resolve("out").toString
      val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
        overrides = Seq(s"paths.input_file=$input", s"paths.output_base=$out"))
      // each small part file is one scan split
      val splits = new File(input).listFiles().count(_.getName.startsWith("part-"))
      assert(splits >= 4)
      val width = math.min(partitions, splits)

      val rec = StageRecorder.record(session)(EntregasEtl(cfg, Some(session)).run())
      // a cached plan appears under every query that reads it: count each
      // exchange instance once
      val exchanges = rec.executions.flatMap(qe => PlanWalk.nodes(qe.executedPlan))
        .collect { case (_, e: ShuffleExchangeExec) => e }
        .foldLeft(List.empty[ShuffleExchangeExec])((seen, e) =>
          if (seen.exists(_ eq e)) seen else e :: seen)
      // the counters' global aggregate adds one SinglePartition exchange
      val keyed = exchanges.map(_.outputPartitioning).filter(_ != SinglePartition)
      assert(keyed.size == (if (width > 1) 1 else 0), exchanges.mkString("\n"))
      for (h <- keyed) h match {
        case h: HashPartitioning =>
          assert(h.expressions.map { case a: AttributeReference => a.name } ==
            Seq("fecha_proceso"), h)
          assert(h.numPartitions == width, h)
        case other => fail(s"unexpected exchange $other")
      }

      val dirs = new File(out).listFiles().filter(_.getName.startsWith("fecha_proceso="))
      assert(dirs.map(_.getName.stripPrefix("fecha_proceso=")).toSet ==
        rec.value.partitionsCreated.keySet)
      for (d <- dirs)
        assert(d.listFiles().count(_.getName.startsWith("part-")) == 1, d)
    }

  test("each scan split combines its duplicates below the date exchange: on the " +
    "one-file fixture it writes one record per distinct row") {
    val fixture = "src/test/resources/etl/data_entrega_productos.csv"
    val out = graft.TestDirs("graft_etl_combine").resolve("out").toString
    val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
      overrides = Seq(s"paths.input_file=$fixture", s"paths.output_base=$out"))
    val raw = Extract(spark, fixture)
    assert(raw.rdd.getNumPartitions == 1)
    val (rows, distinct) = (raw.count(), raw.distinct().count())
    assert(rows == 379L && distinct < rows)

    val rec = StageRecorder.record(spark)(EntregasEtl(cfg, Some(spark)).run())
    // the date exchange is the one below the cache; one split means width 1
    val dateExchanges = rec.executions.flatMap(qe => PlanWalk.nodes(qe.executedPlan))
      .collect { case (_, m: InMemoryTableScanExec) => m.relation.cachedPlan }
      .flatMap(PlanWalk.nodes(_).collect { case (_, e: ShuffleExchangeExec) => e })
      .foldLeft(List.empty[ShuffleExchangeExec])((seen, e) =>
        if (seen.exists(_ eq e)) seen else e :: seen)
    assert(dateExchanges.size == 1, dateExchanges.mkString("\n"))
    val exchange = dateExchanges.head
    assert(exchange.outputPartitioning == SinglePartition, exchange)
    assert(exchange.metrics("shuffleRecordsWritten").value == distinct)
    // the partial aggregate, directly below the exchange
    assert(exchange.child.asInstanceOf[WholeStageCodegenExec].child
      .isInstanceOf[HashAggregateExec], exchange)
    assert(rec.value.quality.inputRows == rows)
  }
}
