package graft.sources

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Model-based check of write-audit-publish branches: a seeded random
  * sequence of {append-main, create-branch, append-branch, publish,
  * drop-branch} ops runs against a real catalog table AND an in-memory
  * model (main set + per-branch sets + fork flags). After every op,
  * main and every live branch must equal the model exactly. This
  * catches the cross-op interactions the per-feature spec can't
  * enumerate — e.g. publish after main advanced (must fail atomically
  * and leave BOTH sides intact), multiple live branches forked at
  * different heads, a branch surviving another branch's publish.
  */
class WapModelSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_wapmodel").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.wapm", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.wapm.root", root)
    s
  }

  private def runSequence(seed: Long, ops: Int, table: String): Unit = {
    val sp = spark
    import sp.implicits._
    spark.sql(s"CREATE TABLE wapm.ns.$table (k BIGINT, src STRING)")
    val fqn = s"wapm.ns.$table"
    val dir = Paths.get(root, "ns", table)
    val rnd = new Random(seed)

    var main = Set.empty[Long]
    // branch -> (rows, mainAtFork) — publish succeeds iff main == mainAtFork
    val branches = mutable.LinkedHashMap.empty[String, (Set[Long], Set[Long])]
    var nextKey = 0L
    var nextBranch = 0
    var publishAttempts = 0
    var publishRejections = 0

    def appendRows(n: Int, branch: Option[String]): Seq[Long] = {
      val ks = (0 until n).map(_ => { nextKey += 1; nextKey })
      val df = ks.map(k => (k, branch.getOrElse("main"))).toDF("k", "src")
      branch match {
        case Some(b) => df.writeTo(fqn).option("branch", b).append()
        case None => df.writeTo(fqn).append()
      }
      ks
    }

    def readMain(): Set[Long] =
      spark.table(fqn).select(col("k")).collect().map(_.getLong(0)).toSet

    def readBranch(b: String): Set[Long] =
      spark.sql(s"SELECT k FROM $fqn VERSION AS OF '$b'")
        .collect().map(_.getLong(0)).toSet

    def checkAll(label: String): Unit = {
      assert(readMain() == main, s"[$label] main mismatch")
      branches.foreach { case (b, (rows, _)) =>
        assert(readBranch(b) == rows, s"[$label] branch $b mismatch")
      }
      assert(Manifest.listBranches(dir).toSet == branches.keySet,
        s"[$label] branch listing mismatch")
    }

    (1 to ops).foreach { i =>
      rnd.nextInt(5) match {
        case 0 => // append to main
          main ++= appendRows(1 + rnd.nextInt(3), None)
        case 1 => // create a branch at the current head
          val b = s"b$nextBranch"; nextBranch += 1
          GraftCatalog.createBranch(dir, b)
          branches(b) = (main, main)
        case 2 if branches.nonEmpty => // append to a random live branch
          val b = branches.keys.toSeq(rnd.nextInt(branches.size))
          val (rows, fork) = branches(b)
          branches(b) = (rows ++ appendRows(1 + rnd.nextInt(3), Some(b)), fork)
        case 3 if branches.nonEmpty => // publish a random branch
          val b = branches.keys.toSeq(rnd.nextInt(branches.size))
          val (rows, fork) = branches(b)
          publishAttempts += 1
          if (main == fork) {
            GraftCatalog.publishBranch(dir, b)
            main = rows
            branches.remove(b)
          } else {
            publishRejections += 1
            val e = intercept[IllegalArgumentException] {
              GraftCatalog.publishBranch(dir, b)
            }
            assert(e.getMessage.contains("main advanced"))
          }
        case 4 if branches.nonEmpty => // drop a random branch
          val b = branches.keys.toSeq(rnd.nextInt(branches.size))
          GraftCatalog.dropBranch(dir, b)
          branches.remove(b)
        case _ => // branch op rolled with no branches: append instead
          main ++= appendRows(1, None)
      }
      checkAll(s"seed=$seed op=$i")
    }
    // the sequence must have exercised the interesting transitions
    assert(publishAttempts > 0, s"seed=$seed never attempted a publish")
    info(s"seed=$seed: $ops ops, $publishAttempts publishes " +
      s"($publishRejections rejected for divergence)")
  }

  test("seeded random WAP sequences match the model (seed 11)") {
    runSequence(seed = 11, ops = 40, table = "w11")
  }

  test("seeded random WAP sequences match the model (seed 42)") {
    runSequence(seed = 42, ops = 40, table = "w42")
  }
}
