package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.{ExceptionFailure, TaskContext, TestBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.spark.ExtractJob

/** Counts the rows seen by attempt 0 of partition 0, for the injected
  * task failure of the retry test. */
object FailOnce {
  val seen = new AtomicInteger(0)
}

/** The lineage of [[ExtractJob]] comes from an accumulator in the write
  * job's result tasks. These specs pin what that design relies on: failed
  * attempts are not counted, the rows equal the aggregate of the written
  * output, and the run stays a short job chain with one exchange below
  * the extraction. `local[2,2]` lets a failed task retry once. */
class ExtractJobLineageSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-lineage-test")
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

  /** `n` small pages (url, warc_ts, html) in four partitions */
  private def pages(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select(
      concat(lit("https://lin.example/page/"), col("id")).as("url"),
      timestamp_seconds(col("id") + 1735689600L).as("warc_ts"),
      encode(concat(lit("<main><p>body "), col("id"), lit("</p></main>")), "UTF-8").as("html"))

  private val lineageCols =
    Seq("partition_id", "warc_ts_min", "warc_ts_max", "doc_count", "byte_count", "failure_count")

  /** the aggregate the lineage was once read back as, over the written output */
  private def readBack(out: String): DataFrame =
    spark.read.parquet(s"$out/extracted").groupBy(col("bucket"))
      .agg(
        min(col("warc_ts")).as("warc_ts_min"),
        max(col("warc_ts")).as("warc_ts_max"),
        count(lit(1)).as("doc_count"),
        sum(col("html_bytes")).as("byte_count"),
        sum(col("failed").cast("long")).as("failure_count"))
      .select(col("bucket").cast("int").as("partition_id") +: lineageCols.tail.map(col): _*)

  private def assertLineageMatchesOutput(out: String): Unit = {
    val lin = spark.read.parquet(s"$out/lineage").select(lineageCols.map(col): _*)
    val want = readBack(out)
    assert(lin.schema.map(_.dataType) == want.schema.map(_.dataType))
    val got = lin.orderBy("partition_id").collect()
    val exp = want.orderBy("partition_id").collect()
    assert(got.length == exp.length, s"${got.length} lineage rows, ${exp.length} written buckets")
    got.zip(exp).foreach { case (g, e) =>
      lineageCols.indices.foreach { i =>
        assert(g.get(i) == e.get(i),
          s"bucket ${e.getInt(0)} ${lineageCols(i)}: lineage ${g.get(i)}, read-back ${e.get(i)}")
      }
    }
  }

  test("lineage equals the read-back aggregate: null ts, null html, sub-millisecond ts") {
    val s = spark
    import s.implicits._
    val buckets = 4
    val urls = (0 until 40).map(i => s"https://lin.example/doc/$i")
    val bucketOf = urls.toDF("url").select(col("url"), ExtractJob.bucketCol(42, buckets))
      .as[(String, Int)].collect().toMap
    // every row of one bucket has a null ts (min/max stay null there);
    // elsewhere the ts differ below the millisecond, in shuffled order, so
    // min/max hinge on the microseconds, and one row per bucket is null
    val allNull = bucketOf(urls.head)
    val base = Timestamp.valueOf("2025-01-01 00:00:01.123").getTime
    val seenPerBucket = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val rows = urls.zipWithIndex.map { case (url, i) =>
      val b = bucketOf(url)
      val j = seenPerBucket(b)
      seenPerBucket(b) = j + 1
      val ts =
        if (b == allNull || j == 1) null
        else {
          val t = new Timestamp(base + (i % 3))
          t.setNanos(t.getNanos + ((i * 7919) % 997) * 1000)
          t
        }
      val html = if (i == 5) null else s"<main><p>body $i</p></main>".getBytes("UTF-8")
      (url, ts, html, s"body $i", "en")
    }
    assert(bucketOf.values.toSet.size == buckets)
    val input = rows.toDF("url", "warc_ts", "html", "text", "lang")
    val out = tmp("graft-lin-eq")
    ExtractJob.run(spark, input, out, ExtractJob.Config(buckets = buckets, runId = "eq"))
    assertLineageMatchesOutput(out)
    val lin = spark.read.parquet(s"$out/lineage")
    assert(lin.where(col("partition_id") === allNull).head().isNullAt(1))
    assert(lin.agg(sum("failure_count")).head().getLong(0) == 1L)
    assert(lin.agg(sum("doc_count")).head().getLong(0) == urls.size)
  }

  test("a failed task attempt's counts are dropped: lineage equals the written output") {
    FailOnce.seen.set(0)
    val failures = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case _: ExceptionFailure => failures.incrementAndGet()
        case _ =>
      }
    }
    // throws on attempt 0 of partition 0 after three rows went through
    // the extraction (and into that attempt's accumulator copy)
    val failOnce = udf { (html: Array[Byte]) =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0 && FailOnce.seen.incrementAndGet() > 3)
        throw new IllegalStateException("injected task failure")
      html
    }.asNondeterministic()
    val n = 1000
    val out = tmp("graft-lin-retry")
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractJob.run(spark, pages(n).withColumn("html", failOnce(col("html"))), out,
        ExtractJob.Config(buckets = 8, runId = "retry", preShuffled = true))
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(FailOnce.seen.get() > 3, "the injected failure never fired")
    assert(failures.get() == 1)
    assertLineageMatchesOutput(out)
    assert(spark.read.parquet(s"$out/lineage").agg(sum("doc_count")).head().getLong(0) == n)
    assert(spark.read.parquet(s"$out/extracted").count() == n)
  }

  test("fresh run: at most 3 jobs, one exchange below the extraction, one file per bucket") {
    val n = 1000
    val buckets = 64
    val jobs = new AtomicInteger(0)
    val stageTasks = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.synchronized { stageTasks += e.stageInfo.numTasks }
    }
    val writePlans = ArrayBuffer.empty[SparkPlan]
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (collect(qe.executedPlan) { case m: MapPartitionsExec => m }.nonEmpty)
          writePlans.synchronized { writePlans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val out = tmp("graft-lin-guard")
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try {
      ExtractJob.run(spark, pages(n), out, ExtractJob.Config(buckets = buckets, runId = "guard"))
      TestBus.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
    }
    assert(jobs.get() <= 3, s"${jobs.get()} jobs")
    // the write tasks follow the data, not the bucket count
    assert(stageTasks.nonEmpty && stageTasks.max < buckets, s"stage task counts $stageTasks")

    // exactly-once needs the extraction in the result stage: one exchange,
    // and it sits below the extraction
    assert(writePlans.size == 1)
    val plan = writePlans.head
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)
    val extraction = collect(plan) { case m: MapPartitionsExec => m }
    assert(extraction.size == 1)
    assert(collect(extraction.head) { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)

    // every bucket still hashes to one write task: one file per directory
    val dirs = new java.io.File(s"$out/extracted").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(dirs.length == buckets)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }
    assert(spark.read.parquet(s"$out/lineage").count() == buckets)
    assert(spark.read.parquet(s"$out/extracted").count() == n)
  }

  test("resume accepts lineage written before the buckets/salt columns existed") {
    val s = spark
    import s.implicits._
    val n = 400
    val out = tmp("graft-lin-legacy")
    val cfg = ExtractJob.Config(buckets = 8, runId = "r1")
    ExtractJob.run(spark, pages(n).withColumn("b", ExtractJob.bucketCol(cfg.salt, cfg.buckets))
      .where(col("b") < 4).drop("b"), out, cfg)
    // rewrite that lineage without its config columns
    val lineageDir = s"$out/lineage"
    spark.read.parquet(lineageDir).drop("buckets", "salt")
      .write.parquet(s"$out/lineage-legacy")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lineageDir))
    assert(new java.io.File(s"$out/lineage-legacy").renameTo(new java.io.File(lineageDir)))
    assert(!spark.read.parquet(lineageDir).columns.contains("buckets"))
    ExtractJob.run(spark, pages(n), out, cfg.copy(runId = "r2"))
    val lineage = spark.read.parquet(lineageDir)
    assert(lineage.select("partition_id").as[Int].collect().sorted.toSeq == (0 until 8))
    assert(lineage.where(col("run_id") === "r2").count() == 4)
    assert(spark.read.parquet(s"$out/extracted").count() == n)
  }
}
