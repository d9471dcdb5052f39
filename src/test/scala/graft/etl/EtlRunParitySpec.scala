package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** `EntregasEtl.run()` against the reference's sequential composition
  * (filter → `dropDuplicates` → filter → Filters) over the same input:
  * the quality counters, the partition counts and the rows written per
  * date directory.
  */
class EtlRunParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val input = SequentialEtl.multiPartInput(spark)

  private val cases: Seq[(String, Seq[String])] =
    (for (dedup <- Seq(true, false); country <- Seq(true, false))
      yield s"removeDuplicates=$dedup, validateCountryCodes=$country" -> Seq(
        s"data_quality.remove_duplicates=$dedup",
        s"data_quality.validate_country_codes=$country")) ++ Seq(
      "filters.country=gt" -> Seq("filters.country=gt"),
      "parquet sink" -> Seq("paths.output_format=parquet"))

  for ((name, overrides) <- cases)
    test(s"run() equals the sequential composition ($name)") {
      val out = graft.TestDirs("graft_etl_parity").resolve("out").toString
      val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
        overrides = Seq(s"paths.input_file=$input", s"paths.output_base=$out") ++ overrides)
      val raw = Extract(spark, input)
      val expectedQuality = SequentialEtl.counters(raw, cfg)
      val expectedDates = SequentialEtl.perDate(SequentialEtl.rows(raw, cfg))

      val m = EntregasEtl(cfg, Some(spark)).run()
      assert(m.quality == expectedQuality)
      assert(m.partitionsCreated == expectedDates)
      assert(m.finalRows == expectedDates.values.sum)
      val written = spark.read.format(cfg.paths.outputFormat).option("header", "true").load(out)
      assert(SequentialEtl.perDate(written) == expectedDates)
    }

  test("the input exercises every counter and filter") {
    val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
      overrides = Seq(s"paths.input_file=$input"))
    val raw = Extract(spark, input)
    val q = SequentialEtl.counters(raw, cfg)
    assert(q.removedNullMaterial > 0 && q.removedInvalidType > 0, q)
    assert(q.removedDuplicates > 0 && q.removedInvalidCountry > 0, q)
    val rows = SequentialEtl.rows(raw, cfg)
    assert(rows.count() < q.outputRows) // the date window removes a row
  }
}
