package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The reference's composition of the quality stage, one step at a time:
  * filter → `dropDuplicates` → filter, with an eager count after each
  * step. The engine's fused stages are checked against it.
  */
object SequentialEtl {

  /** The counters as the reference's count deltas. */
  def counters(df: DataFrame, cfg: EtlConfig): QualityMetrics = {
    val dq = cfg.dataQuality
    val n0 = df.count()
    val f1 = if (dq.removeNullMaterial) df.filter(DataQuality.materialOk) else df
    val n1 = f1.count()
    val f2 = f1.filter(DataQuality.typeOk(cfg.businessRules.validTypes))
    val n2 = f2.count()
    val f3 = if (dq.removeDuplicates) f2.dropDuplicates() else f2
    val n3 = f3.count()
    val f4 = if (dq.validateCountryCodes) f3.filter(DataQuality.countryOk(dq.validCountries)) else f3
    val n4 = f4.count()
    QualityMetrics(n0, n0 - n1, n1 - n2, n2 - n3, n3 - n4)
  }

  /** The rows a run writes, before Transform and Standardize, which keep
    * the row set.
    */
  def rows(df: DataFrame, cfg: EtlConfig): DataFrame = {
    val dq = cfg.dataQuality
    var out = df
    if (dq.removeNullMaterial) out = out.filter(DataQuality.materialOk)
    out = out.filter(DataQuality.typeOk(cfg.businessRules.validTypes))
    if (dq.removeDuplicates) out = out.dropDuplicates()
    if (dq.validateCountryCodes) out = out.filter(DataQuality.countryOk(dq.validCountries))
    Filters(out, cfg.filters)
  }

  /** Rows per `fecha_proceso`. */
  def perDate(df: DataFrame): Map[String, Long] =
    df.groupBy("fecha_proceso").count().collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

  /** The committed ETL fixture plus rows every filter and counter acts on
    * (an invalid country, duplicated; a lower-case valid one; a date
    * outside the default window), written as four CSV part files. Returns
    * the input directory.
    */
  def multiPartInput(spark: SparkSession): String = {
    val fixture = Extract(spark, "src/test/resources/etl/data_entrega_productos.csv")
    val extra = Seq(
      Row("CR", "20250115", "T009", "R009", "ZPRE", "MAT901", "10.0", "1.0", "ST"),
      Row("CR", "20250115", "T009", "R009", "ZPRE", "MAT901", "10.0", "1.0", "ST"),
      Row("CR", "20250116", "T009", null, "Z04", "MAT902", "5.0", "2.0", "CS"),
      Row("gt", "20250513", "T010", null, "ZVE1", "MAT903", "0E-18", "3.0", "CS"),
      Row("gt", "20250513", "T010", null, "ZVE1", "MAT903", "0E-18", "3.0", "CS"),
      Row("SV", "20250815", "T011", "R011", "ZPRE", "MAT904", "7.0", "4.0", "ST"))
    val rows = fixture.union(spark.createDataFrame(spark.sparkContext.parallelize(extra), Schemas.raw))
    val dir = graft.TestDirs("graft_etl_input").resolve("in").toString
    rows.repartition(4).write.option("header", "true").csv(dir)
    dir
  }
}
