package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Port of the reference's 8 unit tests
  * (`/root/reference/tests/test_etl.py:112-257`), same micro-rows
  * (FIXTURES.md §A2) and assertions, on externally created DataFrames —
  * stage functions must be callable in isolation.
  */
class EtlStagesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val config = ConfigLoader.load("config", env = Some("nonexistent"))

  // The reference test fixture builds precio/cantidad as doubles (the
  // transform casts are no-ops there); we mirror with an all-string schema
  // plus the same values — the casts then do real work, closer to prod.
  private def sampleDf = {
    val rows = Seq(
      Row("GT", "20250115", "T001", "R001", "ZPRE", "MAT001", "100.0", "5.0", "CS"),
      Row("GT", "20250115", "T001", "R001", "Z04", "MAT002", "50.0", "10.0", "ST"),
      Row("SV", "20250220", "T002", "R002", "ZVE1", "MAT003", "200.0", "3.0", "CS"),
      Row("HN", "20250310", "T003", "R003", "COBR", "MAT004", "75.0", "8.0", "ST"),
      Row("EC", "20250415", "T004", "R004", "Z05", "", "120.0", "2.0", "CS"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.raw)
  }

  // --- TestDataQuality (tests/test_etl.py:112-137) ---

  test("COBR rows are filtered out by the type whitelist") {
    val out = DataQuality(sampleDf, config)
    val types = out.select("tipo_entrega").collect().map(_.getString(0)).toSet
    assert(!types.contains("COBR"))
    assert(out.count() == 3) // COBR row and empty-material row both gone
  }

  test("empty/null material rows are removed") {
    val out = DataQuality(sampleDf, config)
    val materials = out.select("material").collect().map(_.getString(0))
    assert(materials.forall(m => m != null && m.trim.nonEmpty))
  }

  // --- TestTransformations (tests/test_etl.py:140-210) ---

  test("CS unit conversion: 5 cases x 20 = 100 units") {
    val out = Transform(DataQuality(sampleDf, config), config)
    val mat1 = out.filter(out("material") === "MAT001").head()
    assert(mat1.getAs[Double]("cantidad_unidades") == 100.0)
  }

  test("ST passthrough: 10 x 1 = 10 units") {
    val out = Transform(DataQuality(sampleDf, config), config)
    val mat2 = out.filter(out("material") === "MAT002").head()
    assert(mat2.getAs[Double]("cantidad_unidades") == 10.0)
  }

  test("routine delivery classified RUTINA with flag set") {
    val out = Transform(DataQuality(sampleDf, config), config)
    val mat1 = out.filter(out("material") === "MAT001").head()
    assert(mat1.getAs[String]("categoria_entrega") == "RUTINA")
    assert(mat1.getAs[Boolean]("es_entrega_rutina"))
    assert(!mat1.getAs[Boolean]("es_entrega_bonificacion"))
  }

  test("bonus delivery classified BONIFICACION with flag set") {
    val out = Transform(DataQuality(sampleDf, config), config)
    val mat2 = out.filter(out("material") === "MAT002").head()
    assert(mat2.getAs[String]("categoria_entrega") == "BONIFICACION")
    assert(mat2.getAs[Boolean]("es_entrega_bonificacion"))
    assert(!mat2.getAs[Boolean]("es_entrega_rutina"))
  }

  // --- TestFilters (tests/test_etl.py:213-257) ---

  test("date-range filter keeps only rows inside the window") {
    val out = Filters(sampleDf, FiltersConfig("20250201", "20250228", None))
    assert(out.count() == 1)
    assert(out.head().getAs[String]("pais") == "SV")
  }

  test("country filter is case-normalized equality") {
    val out = Filters(sampleDf, FiltersConfig("20250101", "20251231", Some("gt")))
    assert(out.count() == 2)
    assert(out.collect().forall(_.getAs[String]("pais") == "GT"))
  }

  // --- engine-specific: transform details the reference asserts in docs ---

  test("derived price columns: total, per-unit, flags") {
    val out = Transform(DataQuality(sampleDf, config), config)
    val mat1 = out.filter(out("material") === "MAT001").head()
    assert(mat1.getAs[Double]("precio_total") == 10000.0) // 100 * 100
    assert(mat1.getAs[Double]("precio_por_unidad") == 1.0) // 100 / 100
    assert(mat1.getAs[Boolean]("es_alto_valor")) // 10000 > 1000
    assert(!mat1.getAs[Boolean]("es_bonificacion_gratuita"))
  }

  test("calendar columns: 20250115 is a Wednesday (dia_semana=4)") {
    val out = Transform(DataQuality(sampleDf, config), config)
    val mat1 = out.filter(out("material") === "MAT001").head()
    assert(mat1.getAs[Int]("anio_proceso") == 2025)
    assert(mat1.getAs[Int]("mes_proceso") == 1)
    assert(mat1.getAs[Int]("dia_proceso") == 15)
    assert(mat1.getAs[Int]("dia_semana") == 4) // Spark: 1=Sunday
    assert(mat1.getAs[String]("nombre_dia_semana") == "Miércoles")
    assert(mat1.getAs[Int]("trimestre") == 1)
    assert(mat1.getAs[String]("periodo_mes") == "MEDIADOS_MES")
  }

  test("standardize yields the 29-column ordered contract") {
    val out = Standardize(Transform(DataQuality(sampleDf, config), config), config)
    assert(out.columns.toSeq == Schemas.outputColumns)
  }

  test("quality metrics on an EMPTY input are all zero (no NPE)") {
    // sum() over an empty relation is NULL — the fused dedup aggregate
    // must coalesce it back to 0 (the two-job code returned 0 via count)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.raw)
    val m = DataQuality.metrics(empty, config)
    assert(m == QualityMetrics(0L, 0L, 0L, 0L, 0L))
    assert(m.outputRows == 0L)
  }

  test("quality metrics when every row is removed before the dedup layer") {
    // all rows fail the type whitelist: the deduped relation is empty but
    // n_input/n_f2_removed are not — the country counter must be 0
    val rows = Seq(
      Row("GT", "20250115", "T001", "R001", "COBR", "MAT001", "1.0", "1.0", "CS"),
      Row("GT", "20250116", "T002", "R002", "COBR", "MAT002", "2.0", "2.0", "ST"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.raw)
    val m = DataQuality.metrics(df, config)
    assert(m == QualityMetrics(2L, 0L, 2L, 0L, 0L))
  }
}
