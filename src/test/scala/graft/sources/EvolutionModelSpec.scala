package graft.sources

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Model-based check of catalog schema evolution: a seeded random
  * sequence of {append, ADD, RENAME, DROP, WIDEN} ops runs against a
  * real catalog table AND an in-memory model; after every mutation the
  * full table read must equal the model exactly. This catches the
  * cross-op interactions a per-feature spec can't enumerate (e.g. a
  * rename after an add after a drop, with appends interleaved between
  * every generation of files).
  */
class EvolutionModelSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_evomodel").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.evm", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.evm.root", root)
    s
  }

  // model column: current name, SQL type, values keyed by row id
  private case class MCol(name: String, sqlType: String)

  private def runSequence(seed: Long, ops: Int, table: String,
      format: String = "json"): Unit = {
    val rnd = new Random(seed)
    // the data-file format changes WHERE evolution binds: the JSON reader
    // resolves renames/adds/widenings through the line parser's alias map,
    // the parquet reader through footer-schema name binding — the same
    // random sequences must read back identically under both
    val props =
      if (format == "json") "" else s" TBLPROPERTIES('format'='$format')"
    spark.sql(s"CREATE TABLE evm.ns.$table (id BIGINT)$props")
    var cols = Vector(MCol("id", "BIGINT"))
    // rows: id -> (column name -> value at append time); dropped columns
    // delete their values, renames re-key them
    val rows = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
    var nextId = 0L
    var nextCol = 0

    def sqlLit(c: MCol, id: Long): (String, Any) = c.sqlType match {
      case "BIGINT" => (s"${id * 7 + 1}", id * 7 + 1)
      case "INT" => (s"${(id % 1000).toInt}", (id % 1000).toInt)
      case "DOUBLE" => (s"${id}.5", id + 0.5)
      case _ => (s"'v${id}x'", s"v${id}x")
    }

    def append(): Unit = {
      val n = 1 + rnd.nextInt(3)
      val tuples = (0 until n).map { _ =>
        val id = nextId; nextId += 1
        val vals = cols.map {
          case MCol("id", _) => (s"$id", id: Any)
          case c =>
            val (lit, v) = sqlLit(c, id)
            rows.getOrElseUpdate(id, mutable.Map.empty) += (c.name -> v)
            (lit, v)
        }
        rows.getOrElseUpdate(id, mutable.Map.empty) += ("id" -> id)
        vals.map(_._1).mkString("(", ", ", ")")
      }
      spark.sql(s"INSERT INTO evm.ns.$table VALUES ${tuples.mkString(", ")}")
    }

    def addCol(): Unit = {
      val t = Seq("BIGINT", "INT", "DOUBLE", "STRING")(rnd.nextInt(4))
      val name = s"c$nextCol"; nextCol += 1
      spark.sql(s"ALTER TABLE evm.ns.$table ADD COLUMN $name $t")
      cols :+= MCol(name, t)
    }

    def renameCol(): Unit = {
      val evolvable = cols.filter(_.name != "id")
      if (evolvable.nonEmpty) {
        val c = evolvable(rnd.nextInt(evolvable.size))
        val to = s"c$nextCol"; nextCol += 1
        spark.sql(s"ALTER TABLE evm.ns.$table RENAME COLUMN ${c.name} TO $to")
        cols = cols.map(x => if (x.name == c.name) x.copy(name = to) else x)
        rows.values.foreach { m =>
          m.remove(c.name).foreach(v => m += (to -> v))
        }
      }
    }

    def dropCol(): Unit = {
      val evolvable = cols.filter(_.name != "id")
      if (evolvable.nonEmpty) {
        val c = evolvable(rnd.nextInt(evolvable.size))
        spark.sql(s"ALTER TABLE evm.ns.$table DROP COLUMN ${c.name}")
        cols = cols.filterNot(_.name == c.name)
        rows.values.foreach(_.remove(c.name))
      }
    }

    def widenCol(): Unit = {
      val ints = cols.filter(_.sqlType == "INT")
      if (ints.nonEmpty) {
        val c = ints(rnd.nextInt(ints.size))
        spark.sql(s"ALTER TABLE evm.ns.$table ALTER COLUMN ${c.name} TYPE BIGINT")
        cols = cols.map(x => if (x.name == c.name) x.copy(sqlType = "BIGINT") else x)
        rows.values.foreach { m =>
          m.get(c.name).foreach { case i: Int => m += (c.name -> i.toLong); case _ => () }
        }
      }
    }

    def check(op: String): Unit = {
      val names = cols.map(_.name)
      val got = spark.sql(
        s"SELECT ${names.mkString(", ")} FROM evm.ns.$table ORDER BY id")
        .collect()
        .map(r => names.indices.map(i => if (r.isNullAt(i)) null else r.get(i)).toVector)
        .toVector
      val want = rows.toVector.sortBy(_._1).map { case (_, m) =>
        names.map(n => m.getOrElse(n, null)).toVector
      }
      assert(got == want,
        s"[seed=$seed after $op] table != model\nschema: $cols\n" +
          s"got:  ${got.take(5).mkString("; ")}\nwant: ${want.take(5).mkString("; ")}")
    }

    append(); check("initial append")
    (0 until ops).foreach { i =>
      val op = rnd.nextInt(100) match {
        case x if x < 55 => append(); "append"
        case x if x < 70 => addCol(); "add"
        case x if x < 82 => renameCol(); "rename"
        case x if x < 91 => dropCol(); "drop"
        case _ => widenCol(); "widen"
      }
      check(s"op $i: $op")
    }
    spark.sql(s"DROP TABLE evm.ns.$table")
  }

  test("random evolution sequences keep reads equal to the model (seed 42)") {
    runSequence(seed = 42L, ops = 18, table = "m1")
  }

  test("random evolution sequences keep reads equal to the model (seed 1337)") {
    runSequence(seed = 1337L, ops = 18, table = "m2")
  }

  test("random evolution sequences keep reads equal to the model (parquet, seed 42)") {
    runSequence(seed = 42L, ops = 18, table = "p1", format = "parquet")
  }

  test("random evolution sequences keep reads equal to the model (parquet, seed 7)") {
    runSequence(seed = 7L, ops = 18, table = "p2", format = "parquet")
  }
}
