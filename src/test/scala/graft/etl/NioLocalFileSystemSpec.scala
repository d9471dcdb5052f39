package graft.etl

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.obs.StageRecorder

/** The filesystem `Load` writes through sets the modes `chmod` sets. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def raw: NioLocalFileSystem.Raw = {
    val fs = new NioLocalFileSystem.Raw
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def chmod(mode: String, p: JPath): Unit = {
    val proc = new ProcessBuilder("chmod", mode, p.toString).inheritIO().start()
    assert(proc.waitFor() == 0, s"chmod $mode $p")
  }

  /** The full mode bits, sticky included. */
  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("setPermission leaves the permissions chmod leaves, on files and directories") {
    val dir = graft.TestDirs("graft_nio_fs")
    try for (mode <- Seq("0644", "0755", "0600", "0750"); isDir <- Seq(false, true)) {
      def make(name: String) =
        if (isDir) Files.createDirectory(dir.resolve(name)) else Files.createFile(dir.resolve(name))
      val (ours, theirs) = (make(s"nio_${mode}_$isDir"), make(s"chmod_${mode}_$isDir"))
      // start both from a mode neither target has
      Seq(ours, theirs).foreach(chmod("0707", _))
      raw.setPermission(new Path(ours.toUri), new FsPermission(Integer.parseInt(mode, 8).toShort))
      chmod(mode, theirs)
      assert(Files.getPosixFilePermissions(ours) == Files.getPosixFilePermissions(theirs),
        s"mode $mode, directory=$isDir")
      assert(unixMode(ours) == Integer.parseInt(mode, 8))
    } finally NioLocalFileSystemSpec.deleteTree(dir)
  }

  test("a sticky-bit mode goes through Hadoop's own setPermission") {
    // java.nio cannot set the sticky bit; only the delegated path sets it
    val dir = graft.TestDirs("graft_nio_sticky")
    try {
      raw.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert(unixMode(dir) == Integer.parseInt("1755", 8))
    } finally Files.delete(dir)
  }

  test("only the writer options select it") {
    val conf = spark.sessionState.newHadoopConf()
    val default = new Path("file:///").getFileSystem(conf)
    assert(!default.isInstanceOf[NioLocalFileSystem])
    NioLocalFileSystem.WriterOptions.foreach { case (k, v) => conf.set(k, v) }
    assert(new Path("file:///").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf()) eq default)
  }

  test("a partitioned Load writes the tree a default-filesystem write does") {
    val df = spark.range(0, 300, 1, 4).select(
      concat(lit("2025010"), (col("id") % 5).cast("string")).as("fecha_proceso"),
      col("id"), (col("id") * 7).cast("string").as("v"))
    val root = graft.TestDirs("graft_nio_load")
    try {
      val (ours, theirs) = (root.resolve("load"), root.resolve("default"))
      val rec = StageRecorder.record(spark)(Load(df, ours.toString))
      val counts = rec.value
      // the write itself carries the options that select the filesystem
      val writes = rec.executions.flatMap(_.logical.collect {
        case w: InsertIntoHadoopFsRelationCommand => w.options })
      assert(writes.size == 1, rec.executions.map(_.logical.nodeName))
      assert(NioLocalFileSystem.WriterOptions.forall { case (k, v) => writes.head.get(k).contains(v) })
      df.write.partitionBy("fecha_proceso").mode("overwrite").option("header", "true")
        .csv(theirs.toString)
      val tree = NioLocalFileSystemSpec.tree(ours)
      assert(tree == NioLocalFileSystemSpec.tree(theirs))
      assert(tree.count(_._1.endsWith(".crc")) > 5, tree.mkString("\n"))
      assert(tree.count(_._2) == 6, "the root and five partition directories")
      assert(NioLocalFileSystemSpec.rows(ours) == NioLocalFileSystemSpec.rows(theirs))
      assert(NioLocalFileSystemSpec.rows(ours) == counts)
      assert(counts.size == 5 && counts.values.sum == 300L)
    } finally NioLocalFileSystemSpec.deleteTree(root)
  }
}

object NioLocalFileSystemSpec {

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry below `root`, sorted: its relative path with write UUIDs
    * masked, whether it is a directory, and its permissions.
    */
  def tree(root: JPath): Seq[(String, Boolean, String)] =
    Files.walk(root).iterator.asScala.toSeq.map { p =>
      (Uuid.replaceAllIn(root.relativize(p).toString, "*"), Files.isDirectory(p),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.sorted

  /** Data rows per `fecha_proceso=` directory (each CSV file has a header). */
  def rows(root: JPath): Map[String, Long] =
    Files.list(root).iterator.asScala.toSeq.filter(Files.isDirectory(_)).map { dir =>
      val csvs = Files.list(dir).iterator.asScala.toSeq.filter(_.toString.endsWith(".csv"))
      dir.getFileName.toString.stripPrefix("fecha_proceso=") ->
        csvs.map(f => Files.readAllLines(f).size - 1L).sum
    }.toMap

  def deleteTree(root: JPath): Unit =
    Files.walk(root).iterator.asScala.toSeq.reverse.foreach(Files.delete)
}
