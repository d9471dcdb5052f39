package graft.etl

import org.scalatest.funsuite.AnyFunSuite

class ConfigLoaderSpec extends AnyFunSuite {

  private val dir = "config"

  test("base config binds the full tree") {
    val cfg = ConfigLoader.load(dir, env = Some("nonexistent"))
    assert(cfg.filters.startDate == "20250101")
    assert(cfg.filters.endDate == "20250630")
    assert(cfg.filters.country.isEmpty)
    assert(cfg.businessRules.unitsConversion == Map("CS" -> 20.0, "ST" -> 1.0))
    assert(cfg.businessRules.routineTypes == Seq("ZPRE", "ZVE1"))
    assert(cfg.businessRules.bonusTypes == Seq("Z04", "Z05"))
    assert(cfg.dataQuality.validCountries == Seq("GT", "SV", "HN", "EC", "PE", "JM"))
    assert(cfg.countryNames("PE") == "Perú")
    assert(cfg.columnMapping.toMap.apply("precio") == "precio_unitario")
  }

  test("env overlay merges recursively: overridden keys win, others survive") {
    val cfg = ConfigLoader.load(dir, env = Some("main"))
    assert(cfg.environment == "main")
    assert(cfg.spark.configs("spark.sql.shuffle.partitions") == "8")
    assert(cfg.spark.configs("spark.driver.memory") == "4g")
    // untouched by the overlay:
    assert(cfg.spark.configs("spark.sql.session.timeZone") == "UTC")
    assert(cfg.filters.startDate == "20250101")
  }

  test("CLI dotlist has highest precedence") {
    val cfg = ConfigLoader.load(dir, env = Some("develop"),
      overrides = Seq("filters.start_date=20250301", "filters.country=GT",
        "spark.configs.spark.sql.shuffle.partitions=16"))
    assert(cfg.filters.startDate == "20250301")
    assert(cfg.filters.country.contains("GT"))
    // dotted key inside the configs map is a nested path — it lands under
    // spark.configs.spark.sql.shuffle (OmegaConf behaves the same), so the
    // flat dotted key keeps the develop-overlay value.
    assert(cfg.spark.configs("spark.sql.shuffle.partitions") == "2")
  }

  test("dotlist null clears the country filter") {
    val cfg = ConfigLoader.load(dir, env = Some("develop"),
      overrides = Seq("filters.country=null"))
    assert(cfg.filters.country.isEmpty)
  }

  test("date validation: format and ordering") {
    assert(FiltersConfig("20250101", "20250630", None).validate().isRight)
    assert(FiltersConfig("2025010", "20250630", None).validate().isLeft)
    assert(FiltersConfig("20250701", "20250630", None).validate().isLeft)
    assert(FiltersConfig("abcd0101", "20250630", None).validate().isLeft)
  }
}
