package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Field-for-field parity of `execution_metrics.json` with the
  * reference's metrics dict (`/root/reference/src/etl_entregas.py:558-573`
  * rendered by `main.py:233-238`, summarized in
  * `INFORME_ENTREGA.md:154-160`): same keys, same nesting, same values on
  * the shipped 379-row CSV — excluding the run-specific timestamps and
  * duration, which are asserted present and well-typed only. A consumer
  * of the reference's JSON must be able to read this engine's unchanged.
  */
class EtlMetricsParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("execution_metrics.json matches the reference dict field for field") {
    val out = graft.TestDirs("graft_etl_par").toString
    val cfg = ConfigLoader.load("config", env = Some("nonexistent"),
      overrides = Seq(s"paths.output_base=$out"))
    val json = EntregasEtl(cfg, Some(spark)).run().toJson
    val root = new ObjectMapper().readTree(json)

    // top level: exactly the reference's keys (plus nothing renamed)
    import scala.jdk.CollectionConverters._
    assert(root.fieldNames.asScala.toSet == Set(
      "status", "environment", "start_time", "end_time",
      "execution_time_seconds", "filters_applied", "quality_metrics",
      "output_info", "final_record_count"))

    assert(root.get("status").asText() == "SUCCESS")
    assert(root.get("environment").asText() == "develop")
    assert(root.get("final_record_count").asLong() == 123L)

    // filters_applied mirrors config.filters verbatim
    val fa = root.get("filters_applied")
    assert(fa.fieldNames.asScala.toSet == Set("start_date", "end_date", "country"))
    assert(fa.get("start_date").asText() == "20250101")
    assert(fa.get("end_date").asText() == "20250630")
    assert(fa.get("country").isNull)

    // quality_metrics: the reference's five counters with its verified
    // run numbers (379 -> -18 null material, -41 invalid type,
    // -197 duplicates -> 123)
    val qm = root.get("quality_metrics")
    assert(qm.fieldNames.asScala.toSet == Set(
      "registros_iniciales", "registros_null_material",
      "registros_duplicados", "registros_tipo_invalido", "registros_finales"))
    assert(qm.get("registros_iniciales").asLong() == 379L)
    assert(qm.get("registros_null_material").asLong() == 18L)
    assert(qm.get("registros_tipo_invalido").asLong() == 41L)
    assert(qm.get("registros_duplicados").asLong() == 197L)
    assert(qm.get("registros_finales").asLong() == 123L)

    // output_info: path, partition-date list, count, format — the
    // reference's keys (partition_row_counts is an additive engine extra)
    val oi = root.get("output_info")
    assert(Set("output_path", "partitions_created", "total_partitions", "format")
      .subsetOf(oi.fieldNames.asScala.toSet))
    assert(oi.get("output_path").asText() == cfg.paths.outputBase)
    assert(oi.get("format").asText() == cfg.paths.outputFormat)
    assert(oi.get("total_partitions").asInt() == 6)
    val dates = oi.get("partitions_created").elements().asScala.map(_.asText()).toSet
    assert(dates == Set("20250114", "20250217", "20250314",
      "20250325", "20250513", "20250602"))

    // run-specific fields: present, well-typed, sane — values excluded
    assert(java.time.LocalDateTime.parse(root.get("start_time").asText()) != null)
    assert(java.time.LocalDateTime.parse(root.get("end_time").asText()) != null)
    assert(root.get("execution_time_seconds").asDouble() > 0.0)
  }
}
