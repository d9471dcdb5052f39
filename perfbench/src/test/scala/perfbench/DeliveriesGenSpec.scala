package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{ConfigLoader, EntregasEtl}

class DeliveriesGenSpec extends AnyFunSuite {

  private def shares(rows: Array[String], col: Int): Map[String, Double] =
    rows.map(_.split(",", -1)(col)).groupBy(identity)
      .map { case (k, v) => k -> v.length.toDouble / rows.length }

  test("the same seed gives byte-identical inputs") {
    val a = DeliveriesGen.parts(DeliveriesGen.rows(7, 5000))
    val b = DeliveriesGen.parts(DeliveriesGen.rows(7, 5000))
    assert(a.size == DeliveriesGen.InputFiles)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("a different seed gives different bytes with the same distributions") {
    val a = DeliveriesGen.rows(7, 20000)
    val b = DeliveriesGen.rows(8, 20000)
    assert(!java.util.Arrays.equals(DeliveriesGen.csv(a), DeliveriesGen.csv(b)))
    // country, date, delivery type and unit columns
    for (col <- Seq(0, 1, 4, 8)) {
      val (sa, sb) = (shares(a, col), shares(b, col))
      assert(sa.keySet == sb.keySet, s"column $col")
      sa.foreach { case (k, v) => assert(math.abs(v - sb(k)) < 0.02, s"column $col value $k") }
    }
    def emptyMaterial(rs: Array[String]) = rs.count(_.split(",", -1)(5).isEmpty).toDouble / rs.length
    def dupShare(rs: Array[String]) = 1.0 - rs.distinct.length.toDouble / rs.length
    assert(math.abs(emptyMaterial(a) - emptyMaterial(b)) < 0.01)
    assert(math.abs(dupShare(a) - dupShare(b)) < 0.02)
    assert(dupShare(a) > 0.4 && dupShare(a) < 0.6)
    assert(a.exists(_.contains(",0E-18,")))
    val e = DeliveriesGen.expected(a)
    assert(e.partitions.size == 181)
    val inWindow = a.count(_.split(",", -1)(1) <= DeliveriesGen.endDate).toDouble / a.length
    assert(math.abs(inWindow - 0.5) < 0.03)
    assert(e.removedNullMaterial > 0 && e.removedInvalidType > 0 &&
      e.removedDuplicates > 0 && e.removedInvalidCountry > 0)
  }

  test("on a small seed the row-loop result equals the engine's") {
    val dir = Files.createTempDirectory("perfbench-gen")
    val rows = DeliveriesGen.rows(3, 3000)
    val input = dir.resolve("deliveries")
    DeliveriesGen.write(input, rows)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val cfg = ConfigLoader.load("../config", env = Some("benchmark"), overrides = Seq(
        s"paths.input_file=$input", s"paths.output_base=${dir.resolve("out")}",
        s"filters.start_date=${DeliveriesGen.startDate}",
        s"filters.end_date=${DeliveriesGen.endDate}"))
      val m = new EntregasEtl(cfg, spark).run()
      val e = DeliveriesGen.expected(rows)
      assert(m.quality.inputRows == e.inputRows)
      assert(m.quality.removedNullMaterial == e.removedNullMaterial)
      assert(m.quality.removedInvalidType == e.removedInvalidType)
      assert(m.quality.removedDuplicates == e.removedDuplicates)
      assert(m.quality.removedInvalidCountry == e.removedInvalidCountry)
      assert(m.finalRows == e.finalRows)
      assert(m.partitionsCreated == e.partitions)
    } finally spark.stop()
  }
}
