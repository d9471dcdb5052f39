package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.{IvfIndex, NearDupLsh, PrefixFilterJoin}

/** Contracts of the per-index ingests the one stream driver runs:
  * redelivery of a micro-batch is a no-op for every ingest that reads
  * its own index, and a failing dedup batch leaves nothing cached.
  */
class IndexIngestSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = s"${graft.PathGuardSpec.TestDataRoot}/sf0.001"

  private def docs = graft.Tables.table(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def embeddings: DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2",
        graft.functions.GraftFunctions.dot_product(col("v"), col("v")))
  }

  /** One ingest under test: what it serves after the deliveries, and
    * the rows of its main index relation.
    */
  private case class Case(name: String, rows: () => DataFrame,
      bootstrap: String => Unit, ingest: String => IndexIngest,
      served: String => Seq[(Long, Long)], indexRows: String => DataFrame)

  private def acceptedLog(root: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$root/log").select(col("doc_id"), col("batch"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq.sorted

  private val cases = Seq(
    Case("NearDupIngest", () => docs, _ => (),
      root => NearDupIngest(s"$root/log", 0.8, 4096), acceptedLog,
      root => NearDupLsh.readIndex(spark, s"$root/idx")),
    Case("PpJoinIngest", () => docs, _ => (),
      root => PpJoinIngest(s"$root/log", 4, 5), acceptedLog,
      root => spark.read.parquet(s"$root/idx/sets")),
    Case("IvfIngest", () => embeddings.filter(col("vec_id") % 2 =!= 0),
      root => IvfIndex.writeIndex(embeddings.filter(col("vec_id") % 2 === 0),
        s"$root/idx", nlist = 16, iters = 2),
      _ => IvfIngest,
      root => {
        val q = embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm2").as("qn"))
        IvfIndex.topK(spark, s"$root/idx", q, nprobe = 4, k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      },
      root => spark.read.parquet(s"$root/idx/corpus")))

  test("redelivering a batch leaves the same decisions and index rows " +
      "as one delivery") {
    cases.foreach { c =>
      withClue(s"${c.name}: ") {
        def deliver(times: Int): String = {
          val root = graft.TestDirs("graft_ingest_rd").toString
          c.bootstrap(root)
          val ingest = c.ingest(root)
          val rows = c.rows()
          def batch(i: Int) =
            rows.filter(pmod(col(ingest.columns.head), lit(3)) === i)
          ingest.applyBatch(spark, s"$root/idx", 0L, batch(0))
          (1 to times).foreach(_ =>
            ingest.applyBatch(spark, s"$root/idx", 1L, batch(1)))
          root
        }
        val (once, twice) = (deliver(1), deliver(2))
        assert(c.served(twice) == c.served(once))
        val (a, b) = (c.indexRows(once), c.indexRows(twice))
        assert(a.count() > 0)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          "redelivery must overwrite the batch's partitions, not append")
      }
    }
  }

  test("a dedup batch that throws mid-serve leaves nothing cached") {
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // LSH: an index written without the `batch` partition column fails
    // the layout check after the batch is pinned
    val lsh = graft.TestDirs("graft_ingest_leak_lsh").toString
    docs.limit(5).write.parquet(s"$lsh/idx")
    // ppjoin: a serve threshold below the build threshold fails the
    // lossless-prefix check after the batch is pinned
    val pp = graft.TestDirs("graft_ingest_leak_pp").toString
    PrefixFilterJoin.writeIndex(docs.limit(5), s"$pp/idx", 9, 10)
    Seq(NearDupIngest(s"$lsh/log", 0.8, 4096) -> s"$lsh/idx",
      PpJoinIngest(s"$pp/log", 4, 5) -> s"$pp/idx").foreach {
      case (ingest, idx) =>
        spark.catalog.clearCache()
        intercept[IllegalArgumentException] {
          ingest.applyBatch(spark, idx, 0L, docs)
        }
        assert(cacheManager.isEmpty,
          s"${ingest.getClass.getSimpleName} left its batch cached")
    }
  }
}
