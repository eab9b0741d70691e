package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-direct tiny parquet writer to the distributed
  * dynamic-partition writer it replaces on the tiny-write commit path:
  * identical directory layout (Hive escaping, null/"" default
  * partition), identical re-read contents under the store's reader
  * shape (explicit schema + basePath), within-file clusterCol order,
  * and live footer min/max statistics (the dirty-bucket probes read
  * them).
  */
class TinyWriteSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("gid", StringType),
    StructField("label", StringType),
    StructField("props", MapType(StringType, StructType(Seq(
      StructField("s", StringType), StructField("l", LongType))))),
    StructField("xs", ArrayType(StringType)),
    StructField("recorded", LongType)))

  private def fixtureRows: Seq[Row] = Seq(
    Row("n:2", "Nation", Map("name" -> Row("b", null)), Seq("x"), 1L),
    Row("n:1", "Nation", Map("name" -> Row("a", 7L)), null, 1L),
    Row("n:3", null, null, Seq.empty[String], 2L), // stub partition
    Row("n:4", "", Map.empty[String, Row], null, 2L), // "" == default
    Row("n:5", "We ird/Na=me", Map("k" -> Row(null, 1L)), null, 2L),
    Row("n:0", "Nation", Map("name" -> Row("z", null)), null, 3L))

  private def frame = {
    val base = spark.createDataFrame(
      java.util.Arrays.asList(fixtureRows: _*), schema)
    base.withColumn("bucket", pmod(hash(col("gid")), lit(2)))
  }

  private def readBack(dir: String) =
    spark.read.option("basePath", dir).schema(schema)
      .parquet(s"$dir/seg=9")
      .select("gid", "label", "props", "xs", "recorded")

  test("tiny write == distributed dynamic-partition write: layout, " +
      "contents, order") {
    val tinyDir = Memo.tempDir("graft-tinyw")
    val jobDir = Memo.tempDir("graft-jobw")
    org.apache.spark.sql.graft.TinyParquet.writeLocal(
      frame, tinyDir, 9L, "label", "gid")
    frame.coalesce(1).sortWithinPartitions("gid")
      .withColumn("seg", lit(9L))
      .write.mode("append").partitionBy("seg", "label", "bucket")
      .parquet(jobDir)
    def dirs(root: String): Set[String] = {
      val base = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p))
          .map(p => base.relativize(p).toString).toSet
      } finally s.close()
    }
    assert(dirs(tinyDir) == dirs(jobDir)) // Hive escaping + defaults
    val got = readBack(tinyDir).collect()
    val want = readBack(jobDir).collect()
    assert(got.map(_.toString).sorted.toSeq ==
      want.map(_.toString).sorted.toSeq)
    // within-file clusterCol order: each file's gids ascending
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tinyDir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.toString).toSeq
      } finally s.close()
    }
    assert(files.nonEmpty)
    files.foreach { f =>
      val gids = spark.read.parquet(f).select("gid")
        .collect().map(_.getString(0)).toSeq
      assert(gids == gids.sorted, s"unsorted $f")
    }
  }

  test("tiny-written files carry live column statistics (footer " +
      "min/max for the dirty-bucket probes)") {
    val dir = Memo.tempDir("graft-tinystat")
    org.apache.spark.sql.graft.TinyParquet.writeLocal(
      frame, dir, 9L, "label", "gid")
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSeq
    } finally s.close()
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        assert(r.getRecordCount > 0)
        val cols = r.getFooter.getBlocks.get(0).getColumns
        import scala.jdk.CollectionConverters._
        val gidStats = cols.asScala
          .find(_.getPath.toDotString == "gid").get.getStatistics
        assert(gidStats != null && !gidStats.isEmpty &&
          gidStats.hasNonNullValue)
      } finally r.close()
    }
  }
}
