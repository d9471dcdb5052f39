package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** End-to-end oracle against the shipped reference CSV: the documented and
  * session-verified run numbers (`/root/reference/docs/data_flow_diagram
  * .md:226-233,461-471`): 379 → −18 −41 −197 −0 → 123 rows across 6
  * partitions with known per-date counts.
  */
class EtlPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def config = {
    val out = graft.TestDirs("graft_etl_e2e").toString
    ConfigLoader.load("config", env = Some("nonexistent"),
      overrides = Seq(s"paths.output_base=$out"))
  }

  test("full run reproduces the reference's verified metrics") {
    val cfg = config
    val etl = EntregasEtl(cfg, Some(spark))
    val metrics = etl.run()

    assert(metrics.quality.inputRows == 379)
    assert(metrics.quality.removedNullMaterial == 18)
    assert(metrics.quality.removedInvalidType == 41)
    assert(metrics.quality.removedDuplicates == 197)
    assert(metrics.quality.removedInvalidCountry == 0)
    assert(metrics.finalRows == 123)

    assert(metrics.partitionsCreated == Map(
      "20250114" -> 2L, "20250217" -> 18L, "20250314" -> 22L,
      "20250325" -> 57L, "20250513" -> 12L, "20250602" -> 12L))

    // native partitionBy layout on disk: one dir per fecha_proceso
    val dirs = new java.io.File(cfg.paths.outputBase)
      .listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("20250114", "20250217", "20250314", "20250325",
      "20250513", "20250602").map(d => s"fecha_proceso=$d"))

    // round-trip: the written CSVs hold exactly the final rows
    val back = spark.read.option("header", "true").csv(cfg.paths.outputBase)
    assert(back.count() == 123)
    // 28 file cols + the partition col Spark re-derives from the dir name
    assert(back.columns.length == Schemas.outputColumns.length)
  }

  test("parquet sink: same layout and rows, columnar files") {
    val out = graft.TestDirs("graft_etl_parquet").toString
    val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
      overrides = Seq(s"paths.output_base=$out", "paths.output_format=parquet"))
    val metrics = EntregasEtl(cfg, Some(spark)).run()
    assert(metrics.finalRows == 123)
    val back = spark.read.parquet(out)
    assert(back.count() == 123)
    assert(back.columns.length == Schemas.outputColumns.length)
    // parquet keeps real types (not CSV strings)
    assert(back.schema("precio_total").dataType.typeName == "double")
  }

  test("country override narrows the run (CLI dotlist path)") {
    val out = graft.TestDirs("graft_etl_gt").toString
    val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
      overrides = Seq(s"paths.output_base=$out", "filters.country=GT"))
    val metrics = EntregasEtl(cfg, Some(spark)).run()
    // GT pairs 1:1 with fecha 20250513 (SURVEY.md §5 pairing)
    assert(metrics.partitionsCreated == Map("20250513" -> 12L))
    assert(metrics.finalRows == 12)
  }

  test("metrics JSON is well-formed and carries the quality quintuple") {
    val cfg = config
    val metrics = EntregasEtl(cfg, Some(spark)).run()
    val json = metrics.toJson
    assert(json.contains("\"registros_iniciales\": 379"))
    assert(json.contains("\"registros_duplicados\": 197"))
    assert(json.contains("\"final_record_count\": 123"))
  }
}
