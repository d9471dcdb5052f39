package graft.etl

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Property-style invariants over the transform stage: a seeded random
  * corpus of raw 9-string rows runs through the real pipeline once, and
  * every invariant is checked across all output rows.
  */
class EtlPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val config = ConfigLoader.load("config", env = Some("nonexistent"))

  private val rowGen: Gen[Row] = for {
    pais <- Gen.oneOf("GT", "SV", "HN", "EC", "PE", "JM", "xx", "GT ")
    month <- Gen.chooseNum(1, 12)
    day <- Gen.chooseNum(1, 28)
    fecha = f"2025$month%02d$day%02d"
    transporte <- Gen.chooseNum(1000000, 9999999).map(_.toString)
    ruta <- Gen.option(Gen.chooseNum(100000, 999999).map(_.toString))
    tipo <- Gen.oneOf("ZPRE", "ZVE1", "Z04", "Z05", "COBR", "XXXX")
    material <- Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map("M" + _.take(8)))
    precio <- Gen.chooseNum(0, 500000).map(c => (c / 100.0).toString)
    cantidad <- Gen.chooseNum(1, 80000).map(c => (c / 100.0).toString)
    unidad <- Gen.oneOf("CS", "ST", "KG")
  } yield Row(pais, fecha, transporte, ruta.orNull, tipo, material, precio, cantidad, unidad)

  private lazy val outputRows = {
    val rows = Gen.listOfN(300, rowGen)
      .apply(Gen.Parameters.default, Seed(42L)).get
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.raw)
    Transform(DataQuality(df, config), config).collect()
  }

  test("unit conversion is linear in cantidad with the configured factor") {
    outputRows.foreach { r =>
      val factor = r.getAs[String]("unidad") match {
        case "CS" => 20.0
        case "ST" => 1.0
        case _ => 1.0 // passthrough: cantidad itself
      }
      assert(r.getAs[Double]("cantidad_unidades") ==
        r.getAs[Double]("cantidad") * factor)
    }
  }

  test("category and boolean flags are mutually consistent") {
    outputRows.foreach { r =>
      val cat = r.getAs[String]("categoria_entrega")
      assert((cat == "RUTINA") == r.getAs[Boolean]("es_entrega_rutina"))
      assert((cat == "BONIFICACION") == r.getAs[Boolean]("es_entrega_bonificacion"))
      assert(cat != "OTRO") // unreachable after the type whitelist
    }
  }

  test("rango_volumen is monotone in cantidad_unidades") {
    val rank = Map("BAJO" -> 0, "MEDIO" -> 1, "ALTO" -> 2, "MUY_ALTO" -> 3)
    val sorted = outputRows.sortBy(_.getAs[Double]("cantidad_unidades"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(rank(a.getAs[String]("rango_volumen")) <=
          rank(b.getAs[String]("rango_volumen")))
      case _ =>
    }
  }

  test("derived price columns satisfy their defining identities") {
    outputRows.foreach { r =>
      val precio = r.getAs[Double]("precio")
      val units = r.getAs[Double]("cantidad_unidades")
      assert(r.getAs[Boolean]("es_bonificacion_gratuita") == (precio == 0.0))
      assert(r.getAs[Boolean]("es_alto_valor") ==
        (r.getAs[Double]("precio_total") > 1000.0))
      if (units > 0)
        assert(math.abs(r.getAs[Double]("precio_por_unidad") -
          BigDecimal(precio / units).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      else assert(r.getAs[Double]("precio_por_unidad") == 0.0)
    }
  }

  test("data quality is idempotent: re-applying removes nothing") {
    val rows = Gen.listOfN(300, rowGen)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.raw)
    val once = DataQuality(df, config)
    assert(DataQuality(once, config).count() == once.count())
  }
}
