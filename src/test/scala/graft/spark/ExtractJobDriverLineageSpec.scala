package graft.spark

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[ExtractJob]] writes its lineage rows on the driver
  * ([[ExtractJob.appendLineage]]) instead of in a Spark job. These specs
  * pin that such a file is one a Spark write of the same [[LineageRow]]s
  * could have made: same parquet schema, footer metadata, codec, and the
  * same rows read back; that resume reads a directory holding both kinds;
  * that a leftover `_tmp.` file is invisible to reads and resume; and that
  * a fresh run is the write's two jobs only. Lives in `graft.spark` for
  * the `private[spark]` writer. */
class ExtractJobDriverLineageSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-driver-lineage-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private def ts(s: String, micros: Int): Timestamp = {
    val t = Timestamp.valueOf(s)
    t.setNanos(t.getNanos + micros * 1000)
    t
  }

  // a bucket with no ts at all, one whose range differs below the
  // millisecond, and plain ones
  private val rows = Seq(
    LineageRow(3, null, null, 5, 500, 1, "done", "r", 8, 42),
    LineageRow(0, ts("2025-01-01 00:00:01.123", 456), ts("2025-01-01 00:00:01.123", 457),
      2, 1234, 0, "done", "r", 8, 42),
    LineageRow(5, Timestamp.valueOf("1999-12-31 23:59:59"), Timestamp.valueOf("2025-06-30 12:00:00"),
      7, 9876543210L, 7, "done", "r", 8, 42))

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toSeq

  private def footer(f: File) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter finally reader.close()
  }

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("partition_id").collect().toSeq

  test("driver-written lineage equals a Spark write of the same rows: schema, footer, rows") {
    val bySpark = tmp("graft-lin-spark")
    val byDriver = tmp("graft-lin-driver")
    spark.createDataset(rows)(Encoders.product[LineageRow]).coalesce(1).write
      .mode("append").parquet(bySpark)
    ExtractJob.appendLineage(spark, byDriver, rows)

    val s = spark.read.parquet(bySpark)
    val d = spark.read.parquet(byDriver)
    assert(d.schema == s.schema)
    assert(sorted(d) == sorted(s))
    // the sub-millisecond bound and the all-null bucket survive as written
    val b0 = d.where(col("partition_id") === 0).head()
    assert(b0.getTimestamp(1).getNanos == 123456000 && b0.getTimestamp(2).getNanos == 123457000)
    assert(d.where(col("partition_id") === 3).head().isNullAt(1))

    val Seq(sf) = dataFiles(bySpark)
    val Seq(df) = dataFiles(byDriver)
    assert(df.getName.endsWith(sf.getName.substring(sf.getName.indexOf("-c000"))), df.getName)
    val (fs, fd) = (footer(sf), footer(df))
    assert(fd.getFileMetaData.getSchema == fs.getFileMetaData.getSchema)
    assert(fd.getFileMetaData.getKeyValueMetaData == fs.getFileMetaData.getKeyValueMetaData)
    assert(fd.getFileMetaData.getCreatedBy == fs.getFileMetaData.getCreatedBy)
    def codecs(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(c => c.getPath.toDotString -> c.getCodec)).toSeq
    assert(codecs(fd) == codecs(fs))

    // no hidden file is left, and no `_SUCCESS` is written
    assert(new File(byDriver).listFiles().forall(f => !f.getName.startsWith("_")),
      new File(byDriver).list().mkString(", "))
  }

  /** `n` small pages (url, warc_ts, html) in four partitions */
  private def pages(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select(
      concat(lit("https://drv.example/page/"), col("id")).as("url"),
      timestamp_seconds(col("id") + 1735689600L).as("warc_ts"),
      encode(concat(lit("<main><p>body "), col("id"), lit("</p></main>")), "UTF-8").as("html"))

  test("resume reads a lineage directory holding Spark- and driver-written files and ignores a _tmp. leftover") {
    val n = 400
    val out = tmp("graft-lin-mixed")
    val lineageDir = s"$out/lineage"
    val cfg = ExtractJob.Config(buckets = 8, runId = "r1")
    def upTo(b: Int) = pages(n).withColumn("b", ExtractJob.bucketCol(cfg.salt, cfg.buckets))
      .where(col("b") < b).drop("b")

    // a crash between write and rename leaves a hidden file: here one that
    // claims every bucket done, planted before each run
    val ghostDir = tmp("graft-lin-ghost")
    ExtractJob.appendLineage(spark, ghostDir, (0 until 8).map(b =>
      LineageRow(b, null, null, 1, 1, 0, "done", "ghost", 8, 42)))
    val Seq(ghost) = dataFiles(ghostDir)
    def plantGhost(): Unit = {
      new File(lineageDir).mkdirs()
      java.nio.file.Files.copy(ghost.toPath, new File(lineageDir, s"_tmp.${ghost.getName}").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    // a lineage directory holding only the leftover: nothing is done yet
    plantGhost()
    ExtractJob.run(spark, upTo(2), out, cfg)
    assert(spark.read.parquet(lineageDir).where(col("run_id") === "ghost").count() == 0)
    // buckets 0-1 rewritten as a Spark write, as lineage was written before
    spark.read.parquet(lineageDir).coalesce(1).write.parquet(s"$out/lineage-spark")
    org.apache.commons.io.FileUtils.deleteDirectory(new File(lineageDir))
    assert(new File(s"$out/lineage-spark").renameTo(new File(lineageDir)))
    assert(new File(lineageDir, "_SUCCESS").exists())
    plantGhost()
    // buckets 2-3 appended on the driver
    ExtractJob.run(spark, upTo(4), out, cfg.copy(runId = "r2"))
    assert(dataFiles(lineageDir).size == 2)

    ExtractJob.run(spark, pages(n), out, cfg.copy(runId = "r3"))
    val lineage = spark.read.parquet(lineageDir)
    assert(lineage.count() == 8)
    assert(lineage.select("partition_id").as(Encoders.scalaInt).collect().sorted.toSeq == (0 until 8))
    assert(lineage.groupBy("run_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("r1" -> 2L, "r2" -> 2L, "r3" -> 4L))
    assert(lineage.agg(sum("doc_count")).head().getLong(0) == n)
    assert(spark.read.parquet(s"$out/extracted").count() == n)
    assert(dataFiles(lineageDir).size == 3)
    assert(new File(lineageDir).list().count(_.startsWith("_tmp.")) == 1)
  }

  test("a fresh run launches exactly 2 jobs: the write's map and result stages") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val out = tmp("graft-lin-jobs")
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractJob.run(spark, pages(1000), out, ExtractJob.Config(buckets = 16, runId = "jobs"))
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 2, s"${jobs.get()} jobs")
    assert(spark.read.parquet(s"$out/lineage").count() == 16)
  }
}
