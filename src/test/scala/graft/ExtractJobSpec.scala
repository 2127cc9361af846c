package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{ExtractJob, PagesGen}

/** End-to-end pipeline checks: byte-identical extraction over the
  * synthesized corpus, per-bucket lineage, exactly-once resume. */
class ExtractJobSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    // a leaked session from an earlier suite in the shared forked JVM
    // would be adopted by getOrCreate() with THAT suite's config --
    // never this one's extensions; always start fresh
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extraction pipeline is byte-identical per url and writes lineage") {
    val out = java.nio.file.Files.createTempDirectory("graft-job").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 8, runId = "r1"))
    val extracted = spark.read.parquet(s"$out/extracted")
    val expect = pages.select(col("url"), col("text").as("expect"))
    val joined = extracted.join(expect, "url")
    assert(joined.count() == pages.count())
    assert(joined.where(!(col("text") <=> col("expect"))).count() == 0)
    val lineage = spark.read.parquet(s"$out/lineage")
    assert(lineage.count() == 8) // one row per bucket
    val agg = lineage.agg(sum("doc_count"), sum("failure_count")).head()
    assert(agg.getLong(0) == pages.count())
    assert(agg.getLong(1) == 0L)
  }

  test("rowGroupBytes bounds parquet row groups: bucket files stay splittable") {
    val out = java.nio.file.Files.createTempDirectory("graft-rg").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    // 2 buckets at sf0.001 => ~250 rows per bucket file; a 4 KB row-group
    // cap must yield several row groups per file (the production default
    // is 32 MB — same plumbing, scale-appropriate value)
    ExtractJob.run(spark, pages, out,
      ExtractJob.Config(buckets = 2, runId = "rg", rowGroupBytes = 4096L))
    val conf = spark.sparkContext.hadoopConfiguration
    val bucketDirs = new java.io.File(s"$out/extracted").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.length == 2)
    bucketDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val groups = reader.getFooter.getBlocks.size()
          assert(groups > 1,
            s"${d.getName}/${f.getName}: $groups row group(s) — not splittable")
        } finally reader.close()
      }
    }
    // the knob changes physical layout only: lineage is unchanged
    val lineage = spark.read.parquet(s"$out/lineage")
    assert(lineage.count() == 2)
    assert(lineage.agg(sum("doc_count")).head().getLong(0) == pages.count())
    assert(lineage.agg(sum("failure_count")).head().getLong(0) == 0L)
  }

  test("text and url are written without dictionary pages; rows are unchanged") {
    val out = java.nio.file.Files.createTempDirectory("graft-dict").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 2, runId = "dict"))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(s"$out/extracted").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.length == 2)
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val chunks = reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        Seq("text", "url").foreach { c =>
          assert(chunks(c).nonEmpty && chunks(c).forall(!_.hasDictionaryPage),
            s"${f.getName}: column $c has a dictionary page")
        }
        // the options are per column: the others keep their dictionary
        assert(chunks("html_bytes").forall(_.hasDictionaryPage), s"${f.getName}: html_bytes lost its dictionary")
      } finally reader.close()
    }
    val extracted = spark.read.parquet(s"$out/extracted")
    val expect = pages.select(col("url"), col("text").as("expect"))
    assert(extracted.count() == pages.count())
    assert(extracted.join(expect, "url").where(!(col("text") <=> col("expect"))).count() == 0)
    assert(extracted.where(col("failed")).count() == 0)
  }

  test("resume skips completed buckets and stays exactly-once") {
    val out = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    val cfg = ExtractJob.Config(buckets = 8, runId = "r1")
    // simulate a first run that only completed buckets 0..3: pre-write
    // lineage rows marking them done, extract only those pages
    val firstHalf = pages.withColumn("b", ExtractJob.bucketCol(cfg.salt, cfg.buckets))
      .where(col("b") < 4).drop("b")
    ExtractJob.run(spark, firstHalf, out, cfg)
    val doneAfterFirst = spark.read.parquet(s"$out/lineage").count()
    assert(doneAfterFirst == 4)
    // resumed run over the full corpus: only pending buckets re-extract
    ExtractJob.run(spark, pages, out, cfg.copy(runId = "r2"))
    val lineage = spark.read.parquet(s"$out/lineage")
    assert(lineage.count() == 8)
    // no duplicated buckets, no duplicated rows
    assert(lineage.select("partition_id").distinct().count() == 8)
    val extracted = spark.read.parquet(s"$out/extracted")
    assert(extracted.count() == pages.count())
    assert(extracted.select("url").distinct().count() == pages.count())
    // second-run lineage only covers the four pending buckets
    assert(lineage.where(col("run_id") === "r2").count() == 4)
  }

  test("resume with a different buckets/salt is refused (stale ids would remap)") {
    val out = java.nio.file.Files.createTempDirectory("graft-resume-cfg").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 8, runId = "r1"))
    // lineage records the producing config
    val lin = spark.read.parquet(s"$out/lineage")
    assert(lin.select("buckets").distinct().collect().map(_.getInt(0)).toSeq == Seq(8))
    // a re-run with remapped bucketing must fail loudly, not skip data
    val e1 = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 16, runId = "r2"))
    }
    assert(e1.getMessage.contains("buckets=8"))
    val e2 = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 8, salt = 7, runId = "r2"))
    }
    assert(e2.getMessage.contains("salt=42"))
    // the original config still resumes cleanly (fully done -> no-op)
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 8, runId = "r3"))
    assert(spark.read.parquet(s"$out/lineage").count() == 8)
  }

  test("empty input and fully-done resume: clean no-ops, never a crash") {
    val out = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val none = PagesGen.asDataFrame(spark, sfDir).where(lit(false))
    // zero-row first run: the write touches no partition and, with no
    // lineage rows counted, no lineage table is created
    ExtractJob.run(spark, none, out, ExtractJob.Config(buckets = 2, runId = "empty"))
    assert(!new java.io.File(s"$out/lineage").exists())
    // full run, then a resume where every bucket is already done
    val pages = PagesGen.asDataFrame(spark, sfDir)
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 2, runId = "full"))
    val n = spark.read.parquet(s"$out/extracted").count()
    assert(n == pages.count())
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 2, runId = "again"))
    assert(spark.read.parquet(s"$out/extracted").count() == n)
    assert(spark.read.parquet(s"$out/lineage")
      .where(col("run_id") === "again").count() == 0)
  }

  test("preShuffled skips the exchange: map-only plan, identical output") {
    val out = java.nio.file.Files.createTempDirectory("graft-ps").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    // bucket-aligned storage: write once partitioned by the job's bucket
    val aligned = s"$out/aligned"
    pages.withColumn("bucket", ExtractJob.bucketCol(42, 8))
      .write.partitionBy("bucket").parquet(aligned)
    val alignedPages = spark.read.parquet(aligned).drop("bucket")
    ExtractJob.run(spark, alignedPages, s"$out/job",
      ExtractJob.Config(buckets = 8, runId = "ps", preShuffled = true))
    val extracted = spark.read.parquet(s"$out/job/extracted")
    assert(extracted.count() == pages.count())
    val joined = extracted.join(pages.select(col("url"), col("text").as("expect")), "url")
    assert(joined.where(!(col("text") <=> col("expect"))).count() == 0)
    assert(spark.read.parquet(s"$out/job/lineage").count() == 8)
  }

  test("salted url-hash buckets balance the power-law host skew") {
    val pages = PagesGen.asDataFrame(spark, sfDir)
    // raw host distribution is power-law: host-0 holds ~half the corpus
    val hostCounts = pages
      .select(regexp_extract(col("url"), "host-(\\d+)", 1).as("host"))
      .groupBy("host").count().collect().map(_.getLong(1))
    assert(hostCounts.max.toDouble / hostCounts.sum > 0.3)
    // salted url-hash buckets are near-uniform: max <= 2x mean
    val buckets = pages.withColumn("b", ExtractJob.bucketCol(42, 16))
      .groupBy("b").count().collect().map(_.getLong(1))
    val mean = buckets.sum.toDouble / buckets.length
    assert(buckets.length == 16)
    assert(buckets.max <= 2 * mean, s"skewed buckets: ${buckets.mkString(",")}")
  }

  test("streaming extraction: AvailableNow over landed files, byte-identical") {
    val in = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    pages.write.mode("overwrite").parquet(in)
    val q = graft.spark.StreamingExtract.start(spark, in, out, buckets = 8)
    q.awaitTermination(120000L)
    val extracted = spark.read.parquet(s"$out/extracted")
    assert(extracted.count() == pages.count())
    val joined = extracted.join(pages.select(col("url"), col("text").as("expect")), "url")
    assert(joined.where(!(col("text") <=> col("expect"))).count() == 0)
    // restart with the same checkpoint: no new files -> no duplicates
    val q2 = graft.spark.StreamingExtract.start(spark, in, out, buckets = 8)
    q2.awaitTermination(120000L)
    assert(spark.read.parquet(s"$out/extracted").count() == pages.count())
  }

  test("streaming extraction with per-batch lineage: idempotent on restart") {
    val in = java.nio.file.Files.createTempDirectory("graft-sl-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sl-out").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    pages.write.mode("overwrite").parquet(in)
    val q = graft.spark.StreamingExtract.startWithLineage(spark, in, out, buckets = 8)
    q.awaitTermination(120000L)
    val extracted = spark.read.parquet(s"$out/extracted")
    assert(extracted.count() == pages.count())
    val joined = extracted.join(pages.select(col("url"), col("text").as("expect")), "url")
    assert(joined.where(!(col("text") <=> col("expect"))).count() == 0)
    val lineage = spark.read.parquet(s"$out/lineage")
    val agg = lineage.agg(sum("doc_count"), sum("failure_count"), sum("byte_count")).head()
    assert(agg.getLong(0) == pages.count())
    assert(agg.getLong(1) == 0L)
    val htmlBytes = pages.agg(sum(octet_length(col("html")))).head().getLong(0)
    assert(agg.getLong(2) == htmlBytes)
    // restart with the same checkpoint: no new files -> nothing re-emitted
    val q2 = graft.spark.StreamingExtract.startWithLineage(spark, in, out, buckets = 8)
    q2.awaitTermination(120000L)
    assert(spark.read.parquet(s"$out/extracted").count() == pages.count())
    assert(spark.read.parquet(s"$out/lineage").agg(sum("doc_count")).head().getLong(0) == pages.count())
  }

  test("streaming exact dedup: bounded state, first occurrence kept") {
    val s = spark
    import s.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-sd-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sd-out").toString
    // 120 pages, each text planted twice (doc pairs share fpText(id ^ 1)
    // only when (id/2) even — simpler: duplicate every page body verbatim)
    val pages = PagesGen.asDataFrame(spark, sfDir)
    val dup = pages.union(pages.withColumn("url", concat(col("url"), lit("-copy"))))
    dup.write.mode("overwrite").parquet(in)
    val q = graft.spark.StreamingExtract.dedupStream(spark, in, out)
    q.awaitTermination(120000L)
    val deduped = spark.read.parquet(s"$out/deduped")
    val distinctTexts = pages.select(col("text")).distinct().count()
    assert(deduped.count() == distinctTexts,
      s"expected $distinctTexts distinct texts, got ${deduped.count()}")
    // state is keyed by hash, not text: output carries the 8-byte key
    assert(deduped.columns.contains("text_hash"))
    // the two-stage composition: stage 1 wrote every extracted row once
    // (the ONLY pass that parses HTML); stage 2 deduped from it
    assert(spark.read.parquet(s"$out/extracted").count() == dup.count())
    // restart on the same checkpoint: nothing re-emitted by either stage
    val q2 = graft.spark.StreamingExtract.dedupStream(spark, in, out)
    q2.awaitTermination(120000L)
    assert(spark.read.parquet(s"$out/deduped").count() == distinctTexts)
    assert(spark.read.parquet(s"$out/extracted").count() == dup.count())
  }

  test("metricsStream: per-minute windowed ingest metrics cover every doc and byte") {
    val in = java.nio.file.Files.createTempDirectory("graft-metrics-in").toString
    val pages = PagesGen.asDataFrame(spark, sfDir)
    pages.write.mode("overwrite").parquet(in)
    val q = graft.spark.StreamingExtract.metricsStream(spark, in)
      .writeStream.format("memory").queryName("mstats")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val agg = spark.sql(
      "SELECT CAST(sum(doc_count) AS BIGINT), CAST(sum(byte_count) AS BIGINT), count(*) FROM mstats")
      .head()
    assert(agg.getLong(0) == pages.count())
    assert(agg.getLong(1) == pages.agg(sum(octet_length(col("html")))).head().getLong(0))
    assert(agg.getLong(2) > 1, "the sf corpus spans several 1-minute windows")
  }

  test("pathological rows never fail the task: null html / null warc_ts") {
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-dirty").toString
    val rows = Seq(
      ("https://h.example/doc/1", java.sql.Timestamp.valueOf("2025-01-01 00:00:01"),
        "<p>ok</p>".getBytes("UTF-8"), "ok", "en"),
      ("https://h.example/doc/2", null.asInstanceOf[java.sql.Timestamp],
        "<p>no ts</p>".getBytes("UTF-8"), "no ts", "en"),
      ("https://h.example/doc/3", java.sql.Timestamp.valueOf("2025-01-01 00:00:03"),
        null.asInstanceOf[Array[Byte]], null.asInstanceOf[String], "en"))
    val pages = rows.toDF("url", "warc_ts", "html", "text", "lang")
    ExtractJob.run(spark, pages, out, ExtractJob.Config(buckets = 2, runId = "dirty"))
    val extracted = spark.read.parquet(s"$out/extracted")
    assert(extracted.count() == 3)
    val lineage = spark.read.parquet(s"$out/lineage")
    val agg = lineage.agg(sum("doc_count"), sum("failure_count")).head()
    assert(agg.getLong(0) == 3)
    assert(agg.getLong(1) == 1) // only the null-html row fails
    // the extracted text rides through for the null-ts row
    assert(extracted.where(col("url").endsWith("/2")).head().getAs[String]("text") == "no ts")
  }

  test("clean=true: extracted text is repaired + redacted in the same pass") {
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-clean").toString
    val rows = Seq(
      ("https://h.example/clean/1", java.sql.Timestamp.valueOf("2025-01-01 00:00:01"),
        "<p>see cafÃ© deals, call +1 (555) 123-4567</p>".getBytes("UTF-8"), "x", "en"),
      ("https://h.example/clean/2", java.sql.Timestamp.valueOf("2025-01-01 00:00:02"),
        "<p>plain ascii body</p>".getBytes("UTF-8"), "y", "en"))
    val pages = rows.toDF("url", "warc_ts", "html", "text", "lang")
    ExtractJob.run(spark, pages, out,
      ExtractJob.Config(buckets = 2, runId = "clean", clean = true))
    val got = spark.read.parquet(s"$out/extracted")
      .select("url", "text").as[(String, String)].collect().toMap
    assert(got("https://h.example/clean/1") == "see café deals, call |||PHONE|||")
    assert(got("https://h.example/clean/2") == "plain ascii body")
    // default stays byte-exact parity: same pages, clean off
    val out2 = java.nio.file.Files.createTempDirectory("graft-clean2").toString
    ExtractJob.run(spark, pages, out2, ExtractJob.Config(buckets = 2, runId = "raw"))
    val raw = spark.read.parquet(s"$out2/extracted")
      .select("url", "text").as[(String, String)].collect().toMap
    assert(raw("https://h.example/clean/1") == "see cafÃ© deals, call +1 (555) 123-4567")
  }

  test("cleanCorpus: repair -> gopher gate -> host template -> para dedup -> doc dedup") {
    val s = spark
    import s.implicits._
    def body(i: Int, extra: String = "word") =
      "the of " + (s"$extra$i " * 48).trim // 50 words, passes gopher
    val banner = "the of banner appears on every page of this host with words"
    val shared = "the of shared across two documents here"
    val docs = Seq(
      (0L, "a", s"$banner\n\n${body(0)} x@y.io\n\n$shared"),
      (1L, "a", s"$banner\n\n${body(1)}\n\n$shared"),
      (2L, "a", s"$banner\n\n${body(2)}"),
      (3L, "a", s"$banner\n\n${body(3)}"),
      (4L, "a", "tiny"), // gopher fail: dropped
      (5L, "b", s"$banner\n\n${body(9)}"), // host b: 2 docs, template-exempt
      (6L, "b", s"$banner\n\n${body(9)}")) // identical to 5: doc-dedup drops
      .toDF("doc_id", "host", "text")
    val got = graft.spark.TextOps.cleanCorpus(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 5L))
    // d0: banner (4/4 host docs) dropped, body repaired+scrubbed, shared kept (first)
    assert(got(0L) == s"${body(0)} |||EMAIL|||\n\n$shared")
    // d1: shared was d0's paragraph first -> dropped here
    assert(got(1L) == body(1))
    // host b exempt from template removal: banner survives in the kept twin
    assert(got(5L) == s"$banner\n\n${body(9)}")
  }

  test("SparkEntry.entry smoke: flagship returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("url", "extracted"))
    assert(df.where(col("extracted").isNull).count() == 0)
  }

  test("extract_text SQL function via extensions") {
    spark.sql("""SELECT extract_text('<div id="a">x<b>y</b></div>', '#a') AS t""")
      .collect()(0).getString(0) match {
      case "xy" => ()
      case other => fail(s"got $other")
    }
    // literal input folds at optimization time — proof eval works in the
    // optimizer; non-foldable input must stay inside whole-stage codegen
    val df = spark.range(3).selectExpr(
      "extract_text(concat('<p>', CAST(id AS STRING), '</p>'), 'p') AS t")
    assert(df.queryExecution.executedPlan.toString.contains("*(1)")) // WSCG star
    assert(df.collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    // mistyped args fail cleanly at analysis, not inside codegen
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT extract_text(123, 'p')").collect()
    }
    // untyped NULL stays legal and yields NULL
    assert(spark.sql("SELECT extract_text(NULL, 'p')").head().isNullAt(0))
  }

  test("extract_attrs / extract_count SQL functions") {
    assert(spark.sql("SELECT extract_count('<ul><li>a</li><li>b</li></ul>', 'li')")
      .head().getLong(0) == 2L)
    assert(spark.sql(
      """SELECT array_join(extract_attrs('<a href="/x">1</a><a href="/y">2</a>', 'a', 'href'), ',')""")
      .head().getString(0) == "/x,/y")
    // boolean attribute yields "" (IAttrValue::True analog)
    assert(spark.sql("SELECT extract_attrs('<a data-b>2</a>', 'a', 'data-b')")
      .head().getSeq[String](0) == Seq(""))
    // invalid selector -> NULL, never a task failure
    assert(spark.sql("SELECT extract_count('<p>x</p>', ':no-such(')").head().isNullAt(0))
    // non-foldable input stays inside whole-stage codegen
    val df = spark.range(3).selectExpr(
      "extract_count(concat('<p>', CAST(id AS STRING), '</p>'), 'p') AS n",
      "extract_attrs(concat('<a href=\"/', CAST(id AS STRING), '\">x</a>'), 'a', 'href') AS h")
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 1L, 1L))
    assert(rows.map(_.getSeq[String](1).head).toSeq == Seq("/0", "/1", "/2"))
  }

  test("extract_html SQL function: outerHtml per match, both input types") {
    assert(spark.sql(
      """SELECT array_join(extract_html('<ul><li class="a">1</li><li>2<b>x</b></li></ul>', 'li'), '|')""")
      .head().getString(0) == """<li class="a">1</li>|<li>2<b>x</b></li>""")
    // BINARY path identical
    assert(spark.sql(
      """SELECT array_join(extract_html(encode('<p id=z>t</p>', 'utf-8'), '#z'), '|')""")
      .head().getString(0) == "<p id=z>t</p>")
    // invalid selector -> NULL; NULL html -> NULL; WSCG preserved
    assert(spark.sql("SELECT extract_html('<p>x</p>', ':nope(')").head().isNullAt(0))
    assert(spark.sql("SELECT extract_html(NULL, 'p')").head().isNullAt(0))
    val df = spark.range(3).selectExpr(
      "extract_html(concat('<i>', CAST(id AS STRING), '</i>'), 'i') AS h")
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    assert(df.collect().map(_.getSeq[String](0).head).toSeq == Seq("<i>0</i>", "<i>1</i>", "<i>2</i>"))
  }

  test("fused extract_text/count fast path == general engine (differential)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.spark.Extractor
    val pages = Seq(
      "<main>m1<b>b</b></main><article>a2</article><p>body-less</p>",
      "<ul><li>1</li><li class=\"a\">2<li>3</ul><div></div><div>x</div>",
      "<p>has x here</p><p>none</p><a href=\"/q\">l</a><span>s</span>",
      "<main>outer<main>nested</main></main>", // nested matches duplicate text
      "<div class=\"a b\">ab</div><div class=\"b\">b</div>"
    )
    // qualifying selectors (single-segment comma groups, non-positional)
    val fused = Seq("main,article,body", "li", ".a,.b", "div:empty",
      "p:contains('x')", "a[href]", ":not(span)", "main")
    // engine-only selectors (combinators / positional) must fall back
    val general = Seq("div b", "ul > li", "li:first-child", "p + p")
    for (html <- pages; sel <- fused ++ general) {
      val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val viaBinary = Extractor.extractTextCodegenBinary(bytes, UTF8String.fromString(sel))
      val viaEngine = Extractor.extractText(html, sel) // always the general engine
      assert(viaBinary != null && viaBinary.toString == viaEngine, s"text: sel=$sel html=$html")
      val cntBinary = Extractor.extractCountCodegenBinary(bytes, UTF8String.fromString(sel))
      val cntEngine = Extractor.extractCount(html, sel)
      assert(cntBinary == cntEngine, s"count: sel=$sel html=$html")
      val attrsBinary = Extractor.extractAttrsCodegenBinary(bytes,
        UTF8String.fromString(sel), UTF8String.fromString("class"))
      val attrsEngine = Extractor.extractAttrs(html, sel, "class")
      val ab = if (attrsBinary == null) null
        else attrsBinary.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
      val ae = if (attrsEngine == null) null else attrsEngine.toSeq
      assert(ab == ae, s"attrs: sel=$sel html=$html")
    }
  }

  test("interpreted eval == codegen entries (incl. invalid UTF-8 BINARY); wrong arity is a clean error") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.spark.Extractor
    // invalid UTF-8 in the middle: a String round-trip would substitute
    // U+FFFD and diverge from the byte-native parse
    val bad = "<a href=\"/x\">1</a><a href=\"/".getBytes("UTF-8") ++
      Array[Byte](0xC3.toByte, 0x28.toByte) ++ "\">2</a>".getBytes("UTF-8")
    def lit(v: Any, t: org.apache.spark.sql.types.DataType) = Literal.create(v, t)
    // the call the session's registry builds for SQL, evaluated the way
    // the interpreted path runs it: RuntimeReplaceable.eval throws, so
    // through its replacement
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def interp(name: String, args: Expression*): Any =
      registry.lookupFunction(FunctionIdentifier(name), args)
        .asInstanceOf[RuntimeReplaceable].replacement.eval(null)
    val sel = UTF8String.fromString("a")
    val attr = UTF8String.fromString("href")
    val interpAttrs = interp("extract_attrs", lit(bad, BinaryType),
      lit(sel, StringType), lit(attr, StringType))
    val codegenAttrs = Extractor.extractAttrsCodegenBinary(bad, sel, attr)
    assert(interpAttrs.toString == codegenAttrs.toString,
      "interpreted BINARY extract_attrs diverged from the byte-native entry")
    val interpCount = interp("extract_count", lit(bad, BinaryType), lit(sel, StringType))
    assert(interpCount == Extractor.extractCountCodegenBinary(bad, sel).longValue())
    // interpreted path inherits the NonFatal->null contract (bad selector)
    assert(interp("extract_count", lit(bad, BinaryType),
      lit(UTF8String.fromString(":nope("), StringType)) == null)
    // wrong argument count: a named error, not IndexOutOfBoundsException
    Seq("extract_text('x')", "extract_main()", "extract_attrs('x','a')",
      "extract_count('x')", "extract_html('x')").foreach { call =>
      // Spark wraps the builder's AnalysisException; the named arity
      // message must survive in the cause chain (never IndexOutOfBounds)
      val e = intercept[Exception] { spark.sql(s"SELECT $call").collect() }
      def chain(t: Throwable): String =
        if (t == null) "" else t.toString + "|" + chain(t.getCause)
      assert(chain(e).contains("expects"), s"$call: ${chain(e).take(200)}")
      assert(!chain(e).contains("IndexOutOfBounds"), s"$call leaked IOOBE")
    }
  }

  test("BINARY input paths (byte-native) equal the STRING paths") {
    // multi-byte UTF-8 (2/3/4-byte sequences), entities, attrs, counts: the
    // byte-native parseBytes path must agree with the UTF-16 parse path
    val pages = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("<div id=\"a\">café &amp; <b>中文</b></div><a href=\"/x\">1</a><a href=\"/ü\">2</a>"),
        org.apache.spark.sql.Row("<ul><li>&nbsp;x</li><li>y</li></ul><main>emoji 😀 &copy;</main>"),
        org.apache.spark.sql.Row("<p data-k=\"v&quot;w\">t&lt;/p&gt;ail</p><p>two</p>")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))))
    val out = pages.selectExpr(
      "extract_text(s, 'div,main,p') AS t_str",
      "extract_text(encode(s, 'utf-8'), 'div,main,p') AS t_bin",
      "extract_attrs(s, 'a,p', 'href') AS a_str",
      "extract_attrs(encode(s, 'utf-8'), 'a,p', 'href') AS a_bin",
      "extract_count(s, 'li,b,a') AS c_str",
      "extract_count(encode(s, 'utf-8'), 'li,b,a') AS c_bin"
    ).collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1), "extract_text binary != string")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "extract_attrs binary != string")
      assert(r.getLong(4) == r.getLong(5), "extract_count binary != string")
    }
    // failure semantics preserved on the binary path: invalid selector -> NULL
    assert(pages.limit(1)
      .selectExpr("extract_count(encode(s, 'utf-8'), ':no-such(')")
      .head().isNullAt(0))
  }
}
