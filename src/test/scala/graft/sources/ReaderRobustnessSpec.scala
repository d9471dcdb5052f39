package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Reader robustness: the behaviors a production ingest relies on when
  * the data is dirtier than the happy path — malformed CSV rows under
  * each parse mode, and parquet schema evolution across file batches.
  */
class ReaderRobustnessSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("CSV modes: permissive captures, dropmalformed drops, failfast throws") {
    val dir = graft.TestDirs("graft_badcsv")
    Files.write(dir.resolve("data.csv"),
      """id,name,v
        |1,a,1.5
        |2,b,notanumber
        |3,c,3.5
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("v", DoubleType), StructField("_corrupt_record", StringType)))

    val permissive = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.toString)
      .cache() // corrupt-record queries must not project the corrupt col alone
    assert(permissive.count() == 3)
    val bad = permissive.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt_record")
      .contains("notanumber"))
    assert(bad.head.isNullAt(bad.head.fieldIndex("v")))
    permissive.unpersist()

    val dropped = spark.read.schema(StructType(schema.fields.dropRight(1)))
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(dir.toString)
    assert(dropped.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))

    val e = intercept[Exception] {
      spark.read.schema(StructType(schema.fields.dropRight(1)))
        .option("header", "true").option("mode", "FAILFAST")
        .csv(dir.toString).collect()
    }
    assert(e.getMessage.contains("Malformed") || e.getCause != null, e.getMessage)
  }

  test("parquet mergeSchema unifies evolving file schemas") {
    import spark.implicits._
    val dir = graft.TestDirs("graft_evolve").toString
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/one")
    Seq((2L, 9.5)).toDF("id", "b").write.parquet(s"$dir/two")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/one", s"$dir/two")
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getAs[String]("a") == "x"
      && rows(0).isNullAt(rows(0).fieldIndex("b")))
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(rows(1).fieldIndex("a"))
      && rows(1).getAs[Double]("b") == 9.5)
  }
}
