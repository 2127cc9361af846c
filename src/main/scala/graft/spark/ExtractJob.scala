package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.AccumulatorV2
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.nio.charset.StandardCharsets.UTF_8

/** A row of the extracted table as the extraction emits it. `text` is the
  * UTF-8 of the table's STRING column (null for a failed row); the write
  * casts it, which wraps the bytes as they are. */
final case class ExtractedRow(
    bucket: Int,
    url: String,
    warc_ts: Timestamp,
    html_bytes: Long,
    failed: Boolean,
    text: Array[Byte])

final case class LineageRow(
    partition_id: Int,
    warc_ts_min: Timestamp,
    warc_ts_max: Timestamp,
    doc_count: Long,
    byte_count: Long,
    failure_count: Long,
    status: String,
    run_id: String,
    buckets: Int,
    salt: Int)

/** One bucket's lineage counters. `warc_ts_min`/`warc_ts_max` skip nulls
  * and stay null when every row of the bucket has a null `warc_ts` — the
  * semantics of SQL `min`/`max`. */
private[spark] final class BucketStats extends Serializable {
  var docs = 0L
  var bytes = 0L
  var failures = 0L
  var tsMin: Timestamp = null
  var tsMax: Timestamp = null

  def add(ts: Timestamp, htmlBytes: Long, failed: Boolean): Unit = {
    docs += 1
    bytes += htmlBytes
    if (failed) failures += 1
    tsMin = BucketStats.earlier(tsMin, ts)
    tsMax = BucketStats.later(tsMax, ts)
  }

  def merge(o: BucketStats): Unit = {
    docs += o.docs
    bytes += o.bytes
    failures += o.failures
    tsMin = BucketStats.earlier(tsMin, o.tsMin)
    tsMax = BucketStats.later(tsMax, o.tsMax)
  }
}

private[spark] object BucketStats {
  // null-skipping; `Timestamp` order includes the sub-millisecond nanos
  def earlier(a: Timestamp, b: Timestamp): Timestamp =
    if (a == null || (b != null && b.before(a))) b else a
  def later(a: Timestamp, b: Timestamp): Timestamp =
    if (a == null || (b != null && b.after(a))) b else a
}

/** Per-bucket lineage of the rows that stream into the extracted-table
  * writer; `value(b)` is null for a bucket that saw no row. Bucket ids
  * index the array directly (`bucketCol` yields `[0, buckets)`). */
private[spark] final class LineageAccumulator(buckets: Int)
    extends AccumulatorV2[(Int, Timestamp, Long, Boolean), Array[BucketStats]] {
  private val stats = new Array[BucketStats](buckets)

  def isZero: Boolean = stats.forall(_ == null)
  def copy(): LineageAccumulator = {
    val c = new LineageAccumulator(buckets)
    c.merge(this)
    c
  }
  override def copyAndReset(): LineageAccumulator = new LineageAccumulator(buckets)
  def reset(): Unit = stats.indices.foreach(stats(_) = null)

  /** the row path's entry: no tuple per row */
  def add(bucket: Int, ts: Timestamp, htmlBytes: Long, failed: Boolean): Unit = {
    var s = stats(bucket)
    if (s == null) { s = new BucketStats; stats(bucket) = s }
    s.add(ts, htmlBytes, failed)
  }

  def add(r: (Int, Timestamp, Long, Boolean)): Unit = add(r._1, r._2, r._3, r._4)

  def merge(other: AccumulatorV2[(Int, Timestamp, Long, Boolean), Array[BucketStats]]): Unit = {
    val o = other.value
    for (b <- 0 until buckets if o(b) != null) {
      if (stats(b) == null) stats(b) = new BucketStats
      stats(b).merge(o(b))
    }
  }

  def value: Array[BucketStats] = stats
}

/** The corpus-scale extraction pipeline (north rule):
  *
  *  - **partitioning / skew**: pages are bucketed by `pmod(hash(url, salt),
  *    buckets)` — an explicit salted url-hash so power-law hosts cannot pin a
  *    partition; the same expression is the physical repartition key, so one
  *    shuffle co-locates each bucket and the writer emits one directory (and
  *    one file) per bucket. The exchange carries no partition count: Spark
  *    never coalesces an explicitly sized shuffle, while AQE sizes this one
  *    by bytes, so write tasks follow the data, not the bucket count.
  *  - **lineage / exactly-once resume**: one lineage row per bucket (ts
  *    range, doc/byte/failure counts), counted by a [[LineageAccumulator]]
  *    in the `mapPartitions` that feeds the writer — no read-back of the
  *    written output. Extraction runs in the write job's RESULT stage, and
  *    the DAGScheduler applies a result task's accumulator update once per
  *    output partition (later successes of the same partition — speculative
  *    or resubmitted — are ignored) and drops the updates of failed and
  *    commit-denied attempts (`countFailedValues = false`). So each written
  *    row is counted exactly once, and the counts describe exactly the
  *    committed output. Rerunning skips buckets already recorded `done`;
  *    dynamic partition overwrite makes re-extraction of a half-written
  *    bucket idempotent. ([[StreamingExtract.startWithLineage]] keeps a
  *    read-back instead: a replayed micro-batch would count twice.)
  *    The lineage rows are written after the extracted commit, on the
  *    driver, with Spark's own parquet writer (`ParquetFileFormat`'s
  *    `OutputWriterFactory`: codec, timestamp type and footer from the
  *    session conf, as a Spark write gives them) into one hidden
  *    `_tmp.`-prefixed file under `lineage/`, then renamed to `part-…`.
  *    Spark's file listing skips `_`-prefixed names, so a crash before the
  *    rename leaves nothing that reads or resume see. No Spark job runs for
  *    it, and `lineage/` gets no `_SUCCESS` marker.
  *  - **per-row engine, zero per-row allocation churn**: `mapPartitions`
  *    with the thread-local arena in [[Extractor]]. The main text goes from
  *    the arena to the row as UTF-8 bytes, the same bytes `extract_main`
  *    gives, with no UTF-16 String between
  *    ([[Extractor.extractMainUtf8OrNull]]); `clean = true` cleans the
  *    String and encodes it. Every per-row failure (parse error,
  *    pathological input, a stack overflow on a deep page, null timestamp)
  *    yields a null-text row counted in `failure_count` — never a task
  *    failure.
  *  - **local output**: both writes carry [[NioLocalFileSystem.WriteOptions]],
  *    so on `file:` paths permissions are set in-process instead of by one
  *    forked `chmod` per created file and directory; other schemes ignore
  *    the options.
  *  - **no dictionary for unique columns**: the extracted write turns off
  *    parquet dictionary encoding for `text` and `url`
  *    (`PlainColumns`). Each row holds its own value, so the
  *    dictionary writer only hashed every value before falling back to
  *    plain encoding once its page filled up.
  *
  * At 100 TB the only wide exchange is the single hash repartition; the
  * extraction itself is embarrassingly parallel map work.
  */
object ExtractJob {

  /** Pipeline knobs.
    *
    * `preShuffled = true` skips the bucket repartition: correct whenever
    * the input is already laid out bucket-aligned (e.g. a previous run's
    * output, or a corpus stored partitioned by this job's own bucket
    * expression) — extraction then runs map-only, zero exchanges, which is
    * the re-run shape you want at 100 TB. The bucket column is still
    * computed for lineage/output partitioning; only the shuffle is skipped
    * (buckets land wherever the files are, which is exactly co-located for
    * bucket-aligned storage).
    *
    * `rowGroupBytes` caps the parquet row-group size of the extracted
    * output (`parquet.block.size`). Scan-split planning on parquet can
    * parallelize at row-group granularity, so a bucket file holding many
    * row groups is readable by many tasks — downstream parallelism is then
    * independent of the FILE count (one file per bucket here), which is
    * what survives a 100× scale-up without re-tuning `buckets`. 32 MB ≈
    * 4 row groups per default 128 MB scan split: enough split freedom,
    * still large enough for dictionary/statistics efficiency.
    *
    * `clean = true` runs the training-data cleanup on each extracted
    * text inside the SAME per-row pass (no extra stage, no plan change):
    * [[TextNorm.fixText]] (mojibake repair + NFC + control strip) then
    * [[TextNorm.scrubPii]] (email/IPv4/phone redaction). Clean ASCII
    * short-circuits both, so the flag costs one scan per row on the
    * common path. Off by default — extraction parity stays byte-exact. */
  final case class Config(
      buckets: Int = 64,
      salt: Int = 42,
      runId: String = "run-0",
      recipe: Extractor.Recipe = Extractor.Recipe.default,
      preShuffled: Boolean = false,
      rowGroupBytes: Long = 32L << 20,
      clean: Boolean = false)

  def bucketCol(salt: Int, buckets: Int) =
    pmod(hash(col("url"), lit(salt)), lit(buckets))

  /** write options that keep the per-row-unique columns plain-encoded
    * (parquet's per-column `parquet.enable.dictionary#<column>`) */
  private val PlainColumns: Map[String, String] =
    Seq("text", "url").map(c => s"parquet.enable.dictionary#$c" -> "false").toMap

  // encoders derived once per JVM: reflective derivation costs tens of ms
  // of serial driver time, which `run` would otherwise pay per call
  private val pageEnc = Encoders.product[(Int, String, Timestamp, Array[Byte])]
  private val rowEnc = Encoders.product[ExtractedRow]
  private val resumeEnc = Encoders.product[(Int, String, Option[Int], Option[Int])]
  private val lineageEnc = Encoders.product[LineageRow]
  private val lineageSchema = lineageEnc.schema

  /** run extraction over a pages dataframe, writing extracted + lineage
    * tables under outDir; resumes from lineage when present. */
  def run(spark: SparkSession, pages: DataFrame, outDir: String, cfg: Config = Config()): Unit = {
    val lineagePath = s"$outDir/lineage"
    val extractedPath = s"$outDir/extracted"

    val done: Set[Int] =
      if (fsExists(spark, lineagePath)) {
        // one collect serves both the config guard and the done set; the
        // fixed schema skips inference, and lineage written before the
        // config columns existed reads them as null (accepted as-is)
        val recs = spark.read.schema(lineageSchema).parquet(lineagePath)
          .select(col("partition_id"), col("status"), col("buckets"), col("salt"))
          .as(resumeEnc).collect()
        // resume-config guard: lineage partition ids are only meaningful
        // under the bucketing that produced them — resuming with a
        // different buckets/salt would subtract stale ids from a REMAPPED
        // space and silently skip data
        recs.foreach {
          case (_, _, Some(b), Some(sa)) =>
            require(b == cfg.buckets && sa == cfg.salt,
              s"lineage at $lineagePath was written with buckets=$b salt=$sa; " +
                s"resuming with buckets=${cfg.buckets} salt=${cfg.salt} would " +
                "silently skip remapped data — use a fresh outDir or the " +
                "original config")
          case _ =>
        }
        recs.collect { case (id, "done", _, _) => id }.toSet
      } else Set.empty

    val withBucket = pages
      .withColumn("bucket", bucketCol(cfg.salt, cfg.buckets))
    val pending =
      if (done.isEmpty) withBucket
      else withBucket.where(!col("bucket").isInCollection(done))

    val recipe = cfg.recipe
    val doClean = cfg.clean
    val lineage = new LineageAccumulator(cfg.buckets)
    spark.sparkContext.register(lineage)

    // one shuffle co-locates buckets (salted url hash) — or none at all
    // when the input is already bucket-aligned storage
    val shuffled =
      if (cfg.preShuffled) pending
      else pending.repartition(col("bucket"))
    val extracted: Dataset[ExtractedRow] = shuffled
      .select(col("bucket"), col("url"), col("warc_ts"), col("html"))
      .as(pageEnc)
      .mapPartitions { it =>
        it.map { case (b, url, ts, html) =>
          val bytes = if (html == null) 0L else html.length.toLong
          val text =
            if (!doClean) Extractor.extractMainUtf8OrNull(html, recipe)
            else {
              val raw = Extractor.extractMainOrNull(html, recipe)
              if (raw == null) null
              else TextNorm.scrubPii(TextNorm.fixText(raw)).getBytes(UTF_8)
            }
          lineage.add(b, ts, bytes, text == null)
          ExtractedRow(b, url, ts, bytes, text == null, text)
        }
      }(rowEnc)

    // idempotent per-bucket overwrite => exactly-once on resume; a zero-row
    // write touches no partition. parquet.block.size bounds row groups so
    // each bucket file stays splittable (see Config.rowGroupBytes). The
    // BINARY -> STRING cast is `UTF8String.fromBytes`: the bytes as they are
    extracted.withColumn("text", col("text").cast("string"))
      .write
      .options(NioLocalFileSystem.WriteOptions)
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .option("parquet.block.size", cfg.rowGroupBytes)
      .options(PlainColumns)
      .mode(SaveMode.Overwrite)
      .parquet(extractedPath)

    // nothing extracted (empty corpus, or every bucket already done): no
    // lineage rows, and no lineage table is created
    val rows = lineage.value.iterator.zipWithIndex.collect { case (s, b) if s != null =>
      LineageRow(b, s.tsMin, s.tsMax, s.docs, s.bytes, s.failures,
        "done", cfg.runId, cfg.buckets, cfg.salt)
    }.toSeq
    if (rows.nonEmpty) appendLineage(spark, lineagePath, rows)
  }

  /** Appends `rows` to the lineage table at `dir` as one parquet file,
    * written on the driver with the writer a Spark parquet write uses: the
    * Hadoop conf is built as a write's is (the session's SQL conf over the
    * context's Hadoop conf, then [[NioLocalFileSystem.WriteOptions]]), and
    * `prepareWrite` takes codec, timestamp type and footer metadata from
    * the session conf. The file is written under a `_tmp.` name, which
    * Spark's file listing skips, and renamed into place once closed. */
  private[spark] def appendLineage(spark: SparkSession, dir: String, rows: Seq[LineageRow]): Unit = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    spark.conf.getAll.foreach { case (k, v) => if (v != null) conf.set(k, v) }
    NioLocalFileSystem.WriteOptions.foreach { case (k, v) => conf.set(k, v) }
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, lineageSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("lineage", 0, TaskType.MAP, 0, 0))
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(dir, s"_tmp.$name")
    val writer = factory.newInstance(tmp.toString, lineageSchema, ctx)
    try {
      val toRow = encoderFor(lineageEnc).createSerializer()
      rows.foreach(r => writer.write(toRow(r)))
    } finally writer.close()
    val fs = tmp.getFileSystem(job.getConfiguration)
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"could not rename $tmp to $name")
  }

  /** spark-submit entry:
    * `spark-submit --class graft.spark.ExtractJob visdomspark.jar
    *    <pagesPathOrSfDir> <outDir> [buckets] [salt] [runId] [preShuffled]`
    * A directory containing `documents.parquet` is synthesized into pages
    * first (sandbox path); anything else is read as a pages table. */
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val outDir = args(1)
    val buckets = if (args.length > 2) args(2).toInt else 64
    val salt = if (args.length > 3) args(3).toInt else 42
    val runId = if (args.length > 4) args(4) else "run-0"
    val preShuffled = args.length > 5 && args(5).toBoolean
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    try {
      val pages =
        if (fsExists(spark, s"$in/documents.parquet")) PagesGen.asDataFrame(spark, in)
        else spark.read.parquet(in)
      run(spark, pages, outDir, Config(buckets, salt, runId, preShuffled = preShuffled))
      // run() creates no lineage table when it extracts no row.
      if (fsExists(spark, s"$outDir/lineage"))
        spark.read.parquet(s"$outDir/lineage").orderBy("partition_id").show(20, truncate = false)
      else println(s"graft-extract: no work (empty corpus), no lineage written to $outDir")
    } finally spark.stop()
  }

  private def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
