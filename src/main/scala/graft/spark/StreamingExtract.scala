package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming variant of the extraction pipeline: continuously
  * ingest newly-landed page files, extract main content, and append to the
  * extracted table with checkpointed exactly-once file-sink semantics.
  *
  * The reference has no streaming surface (single-string API) — this is the
  * Spark-native composition: the same per-row engine rides any source.
  * `extract_main` being a deterministic scalar `Expression`, the streaming
  * planner treats it like any built-in; watermarking applies to `warc_ts`
  * for the windowed ingest-rate metrics stream.
  *
  * Each entry point owns its own checkpoint directory under `outDir`
  * (`checkpoint-extract` / `checkpoint-lineage` / `checkpoint-dedup`):
  * checkpoints encode a specific query plan and sink layout, so sharing
  * one directory across variants would silently adopt a foreign query's
  * file-source offsets. Use a distinct `outDir` per variant regardless —
  * their sink layouts differ.
  */
object StreamingExtract {

  private val pageSchema =
    org.apache.spark.sql.Encoders.product[PageRow].schema

  /** start the extraction stream: pagesDir (parquet files, pages schema) ->
    * outDir/extracted, checkpoint in outDir/checkpoint-extract. */
  def start(spark: SparkSession, pagesDir: String, outDir: String,
      buckets: Int = 64, salt: Int = 42): StreamingQuery = {
    val schema = pageSchema
    val pages = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDir)
    pages
      .withColumn("bucket", ExtractJob.bucketCol(salt, buckets))
      .select(col("bucket"), col("url"),
        call_function("extract_main", col("html")).as("text"))
      .writeStream
      .option("checkpointLocation", s"$outDir/checkpoint-extract")
      .option("path", s"$outDir/extracted")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .start()
  }

  /** extraction stream WITH per-batch lineage: `foreachBatch` writes the
    * extracted rows AND one lineage row per (batch, bucket) — both keyed by
    * `batch_id`, both written with dynamic partition overwrite, so a
    * replayed micro-batch (checkpoint recovery) rewrites its own partitions
    * idempotently: exactly-once lineage without accumulators.
    *
    * Lineage is aggregated by RE-READING the just-written batch partitions
    * column-pruned (bucket/warc_ts/html_bytes/failed — never `text`):
    * extraction runs once, nothing is persisted, and the aggregate scans
    * only the small columns. The `failed` boolean is materialized at write
    * time so the read-back can prune the text column. [[ExtractJob]]
    * counts its lineage with an accumulator in the write's result tasks
    * instead; that cannot serve here, because a replayed micro-batch runs
    * its write job again and would be counted twice, while the read-back
    * of the overwritten partitions is idempotent. */
  def startWithLineage(spark: SparkSession, pagesDir: String, outDir: String,
      buckets: Int = 64, salt: Int = 42): StreamingQuery = {
    val pages = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDir)
    pages
      .withColumn("bucket", ExtractJob.bucketCol(salt, buckets))
      .select(col("bucket"), col("url"), col("warc_ts"),
        octet_length(col("html")).cast("long").as("html_bytes"),
        call_function("extract_main", col("html")).as("text"))
      .withColumn("failed", col("text").isNull)
      .writeStream
      .option("checkpointLocation", s"$outDir/checkpoint-lineage")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // A zero-row micro-batch writes no data files, so the schema-inferring
        // lineage read-back below would throw AnalysisException; skip it.
        if (batch.isEmpty) ()
        else {
        batch.withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id", "bucket")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(s"$outDir/extracted")
        val sess = batch.sparkSession
        // read ONLY the just-written batch partition (basePath keeps the
        // partition columns): a whole-table read would eagerly list every
        // partition ever written before the filter applies — per-batch
        // listing cost growing with total batches (O(n²) cumulative on an
        // object store)
        sess.read.option("basePath", s"$outDir/extracted")
          .parquet(s"$outDir/extracted/batch_id=$batchId")
          .groupBy(col("batch_id"), col("bucket"))
          .agg(min(col("warc_ts")).as("warc_ts_min"),
            max(col("warc_ts")).as("warc_ts_max"),
            count(lit(1)).as("doc_count"),
            sum(col("html_bytes")).as("byte_count"),
            sum(col("failed").cast("long")).as("failure_count"))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(s"$outDir/lineage")
        }
        ()
      }
      .start()
  }

  /** streaming content-hash dedup with BOUNDED state, as a two-STAGE
    * composition so extraction runs ONCE per page:
    *
    *   stage 1 (checkpoint-dedup-extract): pages -> outDir/extracted
    *     (url, warc_ts, text) — the only pass that parses HTML;
    *   stage 2 (checkpoint-dedup): outDir/extracted -> outDir/deduped,
    *     keyed by (xxhash64, byte length) of the ALREADY-extracted text.
    *
    * (The naive single-plan union shape re-evaluated `extract_main` per
    * branch — 2x parse CPU, the pipeline's dominant cost.) State never
    * stores the text itself, so at corpus scale state is bounded by
    * (dedup window) x (ingest rate), never corpus size; the residual is
    * the standard content-hash tradeoff (a 64-bit+length collision inside
    * one window, ~2^-64 — the batch [[TextOps.dedupExact]] verifies with
    * the text and stays exact).
    *
    * THE BOUNDED-STATE CONTRACT (what `dedupWindow` really is): the
    * watermark that expires state is also the stateful operator's
    * allowed-lateness cutoff — a row arriving more than `dedupWindow`
    * behind the max `warc_ts` seen so far is DROPPED, not passed through.
    * Size the window to cover the ingest's worst out-of-orderness (crawl
    * data is near-ordered by fetch time; hours, not days). Rows that
    * cannot carry a watermark at all — failed pages (null text) and rows
    * with null warc_ts — bypass the stateful operator entirely on a
    * pass-through channel (null hash), so the failure channel never
    * collapses or loses rows. */
  def dedupStream(spark: SparkSession, pagesDir: String, outDir: String,
      dedupWindow: String = "1 hour"): StreamingQuery = {
    // stage 1: extract once
    val extractQ = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDir)
      .select(col("url"), col("warc_ts"),
        call_function("extract_main", col("html")).as("text"))
      .writeStream
      .option("checkpointLocation", s"$outDir/checkpoint-dedup-extract")
      .option("path", s"$outDir/extracted")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .start()
    extractQ.awaitTermination()

    // stage 2: dedup the extracted table (no HTML parse anywhere here)
    val extractedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val extracted = spark.readStream
      .schema(extractedSchema)
      .option("maxFilesPerTrigger", "64")
      .parquet(s"$outDir/extracted")
    val deduped = extracted
      .where(col("text").isNotNull && col("warc_ts").isNotNull)
      .withColumn("text_hash", xxhash64(col("text")))
      .withColumn("text_len", octet_length(col("text")))
      .withWatermark("warc_ts", dedupWindow)
      .dropDuplicatesWithinWatermark("text_hash", "text_len")
    val passthrough = extracted
      .where(col("text").isNull || col("warc_ts").isNull)
      .withColumn("text_hash", lit(null).cast("long"))
      .withColumn("text_len", lit(null).cast("int"))
    deduped.unionByName(passthrough)
      .writeStream
      .option("checkpointLocation", s"$outDir/checkpoint-dedup")
      .option("path", s"$outDir/deduped")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .start()
  }

  /** windowed ingest metrics with a watermark on warc_ts (docs/bytes per
    * 1-minute event-time window). */
  def metricsStream(spark: SparkSession, pagesDir: String): DataFrame = {
    val schema = pageSchema
    spark.readStream
      .schema(schema)
      .parquet(pagesDir)
      .withWatermark("warc_ts", "10 minutes")
      .groupBy(window(col("warc_ts"), "1 minute"))
      .agg(count(lit(1)).as("doc_count"), sum(octet_length(col("html"))).as("byte_count"))
  }
}
