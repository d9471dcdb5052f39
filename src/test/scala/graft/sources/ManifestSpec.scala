package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The manifest codec and its `txn` contract: render is the exact byte
  * layout every table on disk already has, parse inverts it, and every
  * rewrite of a table (compaction, deletes, UPDATE, vector materialize,
  * MERGE) carries a stream's transaction marker forward.
  */
class ManifestSpec extends AnyFunSuite {

  private lazy val root = graft.TestDirs("graft_manifest").toString

  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.mfcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.mfcat.root", root)
    s
  }

  /** The bytes the hand-written manifest writers produced: keys in
    * rows/files/dvs/txn/ref order, files sorted, a trailing newline.
    */
  private val written =
    "{\"rows\":7,\"files\":[\"part-00000-a.json\",\"part-00001-b.json\"]," +
      "\"dvs\":{\"part-00000-a.json\":[0,3],\"part-00001-b.json\":[2]}," +
      "\"txn\":{\"app1\":4,\"app2\":9},\"ref\":\"audit\"}\n"

  private val full = Manifest(7L, Seq("part-00000-a.json", "part-00001-b.json"),
    Map("part-00000-a.json" -> Seq(0, 3), "part-00001-b.json" -> Seq(2)),
    Map("app1" -> 4L, "app2" -> 9L), Some("audit"))

  test("render reproduces the written bytes; parse inverts it with value equality") {
    assert(Manifest.render(full) == written)
    assert(Manifest.parse(written) == full)
    assert(Manifest.render(Manifest.parse(written)) == written)
    // optional keys are omitted when empty; the empty table is one literal
    assert(Manifest.render(Manifest.Empty) == "{\"rows\":0,\"files\":[]}\n")
    assert(Manifest.parse("{\"rows\":0,\"files\":[]}\n") == Manifest.Empty)
    // files render sorted; a vector on an unlisted file or an empty
    // vector is not written
    assert(Manifest.render(Manifest(2L, Seq("part-b.json", "part-a.json"),
      Map("part-gone.json" -> Seq(1), "part-a.json" -> Nil))) ==
      "{\"rows\":2,\"files\":[\"part-a.json\",\"part-b.json\"]}\n")
  }

  private var tableSeq = 0

  private def freshTable(): (String, Path) = {
    tableSeq += 1
    val t = s"mfcat.ns.t$tableSeq"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    (t, Paths.get(root, "ns", s"t$tableSeq"))
  }

  private def append(t: String, rows: (Long, String)*): Unit = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "v").coalesce(1).writeTo(t).append()
  }

  private def manifestFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList.filter { p =>
      val n = p.getFileName.toString
      (n.startsWith("_graft_manifest") || n.startsWith(Manifest.BranchPrefix)) &&
        n.endsWith(".json")
    }
    finally s.close()
  }

  private val Layout = ("\\{\"rows\":\\d+,\"files\":\\[(\"part-[^\"]+\"(,\"part-[^\"]+\")*)?\\]" +
    "(,\"dvs\":\\{[^}]+\\})?(,\"txn\":\\{[^}]+\\})?(,\"ref\":\"[^\"]+\")?\\}\n").r

  private def manifestTexts(dir: Path): Set[(String, String)] =
    manifestFiles(dir).map(p => p.getFileName.toString ->
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).toSet

  test("every manifest a sequence of commits leaves is in the written layout") {
    val (t, dir) = freshTable()
    val sp = spark
    import sp.implicits._
    var seen = Set.empty[(String, String)]
    // one step per manifest writer; every head, snapshot, branch head and
    // fork file each leaves behind is kept for the layout check
    def step(body: => Any): Unit = { body; seen ++= manifestTexts(dir) }
    step(append(t, 1L -> "a", 2L -> "b"))
    step(append(t, 3L -> "c"))
    step(graft.streaming.CdcMergeStream.applyBatch(t,
      spark.createDataFrame(Seq((4L, "d", "I"))).toDF("k", "v", "op"),
      Seq("k"), "op", "app", 1L))
    step(append(t, 5L -> "e"))
    step(mor(spark.sql(s"DELETE FROM $t WHERE k = 2")))
    step(GraftCatalog.createBranch(dir, "audit"))
    step(Seq(7L -> "g").toDF("k", "v").writeTo(t).option("branch", "audit").append())
    step(GraftCatalog.publishBranch(dir, "audit"))
    step(GraftCatalog.compactSmall(dir, schemaOf(t), minBytes = 1L << 20, targetBytes = 1L << 30))
    step(mor(spark.sql(s"DELETE FROM $t WHERE k = 3")))
    step(GraftUpdate.update(spark, t, col("k") === 1L, Map("v" -> lit("u"))))
    step(spark.sql(s"DELETE FROM $t WHERE k = 5"))
    step(mor(spark.sql(s"DELETE FROM $t WHERE k = 7")))
    step(GraftDv.materialize(dir, schemaOf(t), Manifest.read(dir).files))
    step(GraftCatalog.compact(dir))
    assert(rowsOf(spark.table(t)) == Set(1L -> "u", 4L -> "d"))

    assert(seen.size >= 16, seen.map(_._1).toSeq.sorted.mkString(", "))
    seen.foreach { case (name, text) =>
      assert(Layout.matches(text), s"$name: $text")
      assert(Manifest.render(Manifest.parse(text)) == text, name)
    }
    // every optional key occurs somewhere in the sequence
    Seq("\"dvs\"", "\"txn\"", "\"ref\"").foreach(k =>
      assert(seen.exists(_._2.contains(k)), s"no manifest carries $k"))
  }

  /** A table whose head carries the marker `app -> 7`, written the way a
    * CDC stream writes it, plus two more small appended files.
    */
  private def markedTable(): (String, Path) = {
    val (t, dir) = freshTable()
    append(t, 1L -> "a", 2L -> "b")
    graft.streaming.CdcMergeStream.applyBatch(t,
      spark.createDataFrame(Seq((3L, "c", "I"))).toDF("k", "v", "op"),
      Seq("k"), "op", "app", 7L)
    append(t, 4L -> "d")
    append(t, 5L -> "e")
    assert(Manifest.read(dir).txn == Map("app" -> 7L))
    (t, dir)
  }

  private def schemaOf(t: String) = spark.table(t).schema

  private def mor[A](body: => A): A = {
    spark.conf.set("spark.graft.delete.mode", "mor")
    try body finally spark.conf.set("spark.graft.delete.mode", "cow")
  }

  private val rewrites: Seq[(String, (String, Path) => Unit)] = Seq(
    "compact" -> ((_, dir) => GraftCatalog.compact(dir)),
    "compactSmall" -> ((t, dir) =>
      GraftCatalog.compactSmall(dir, schemaOf(t), minBytes = 1L << 20, targetBytes = 1L << 30)),
    "cow deleteWhere" -> ((t, _) => spark.sql(s"DELETE FROM $t WHERE k = 1")),
    "mor deleteWhere" -> ((t, _) => mor(spark.sql(s"DELETE FROM $t WHERE k = 1"))),
    "UPDATE" -> ((t, _) => GraftUpdate.update(spark, t, col("k") === 1L, Map("v" -> lit("u")))),
    "DV materialize" -> ((t, dir) => GraftDv.materialize(dir, schemaOf(t), Manifest.read(dir).files)),
    "MERGE replace" -> ((t, _) => GraftMerge.into(spark, t,
      spark.createDataFrame(Seq((2L, "m", "U"))).toDF("k", "v", "op"), Seq("k"))))

  rewrites.foreach { case (name, op) =>
    test(s"a stream's txn marker survives $name") {
      val (t, dir) = markedTable()
      // materialize needs a vector to fold in
      if (name == "DV materialize") mor(spark.sql(s"DELETE FROM $t WHERE k = 1"))
      val before = Manifest.read(dir)
      op(t, dir)
      val after = Manifest.read(dir)
      assert(after.copy(txn = Map.empty) != before.copy(txn = Map.empty),
        s"$name committed nothing")
      assert(after.txn == Map("app" -> 7L), s"$name: $after")
    }
  }

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("a plain overwrite clears the markers with the rest of history") {
    val (t, dir) = markedTable()
    spark.sql(s"INSERT OVERWRITE $t VALUES (9, 'z')")
    assert(rowsOf(spark.table(t)) == Set(9L -> "z"))
    assert(Manifest.read(dir).txn.isEmpty)
    assert(Manifest.listSnapshots(dir) == Seq(1L))
  }
}
