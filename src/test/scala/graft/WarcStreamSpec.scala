package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{ExtractJob, WarcOps}
import java.io.InputStream

/** Round-6 WARC ingest tier: the STREAMING record reader (bounded memory,
  * >2 GiB logical streams, oversize-body skip, the round-5 >512 MB-gz
  * silent-empty overflow regression) and the `.warc.gz` FILE source
  * (synthWarcDir -> readWarcFiles -> ExtractJob end-to-end + resume). */
class WarcStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    // a leaked session from an earlier suite in the shared forked JVM
    // would be adopted by getOrCreate() with THAT suite's config --
    // never this one's extensions; always start fresh
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-warc-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** generates `n` WARC response records lazily — one small header array
    * plus one SHARED body array per record chunk; nothing near the logical
    * stream length is ever resident. */
  private final class BigWarcStream(n: Int, body: Array[Byte]) extends InputStream {
    private var i = 0
    private var chunks: Iterator[Array[Byte]] = Iterator.empty
    private var cur: Array[Byte] = null
    private var pos = 0
    private def recordChunks(k: Int): Iterator[Array[Byte]] = {
      val hdr = s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: u$k\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      Iterator(hdr.getBytes("ISO-8859-1"), body, "\r\n\r\n".getBytes("ISO-8859-1"))
    }
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xFF
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      while (cur == null || pos == cur.length) {
        if (chunks.hasNext) { cur = chunks.next(); pos = 0 }
        else if (i < n) { chunks = recordChunks(i); i += 1 }
        else return -1
      }
      val m = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, b, off, m)
      pos += m
      m
    }
  }

  test("a >2 GiB logical WARC stream parses record-at-a-time with bounded memory") {
    // 2200 records x 1 MiB body = ~2.26e9 logical bytes — impossible to
    // hold in any Array[Byte] (Int-indexed), so passing PROVES the reader
    // never materializes the stream
    val body = Array.fill[Byte](1 << 20)('x')
    val n = 2200
    val reader = new WarcOps.WarcRecordReader(new BigWarcStream(n, body))
    var count = 0
    var logical = 0L
    reader.foreach { rec =>
      count += 1
      logical += rec.bodyLen
      assert(rec.body.length == body.length)
      assert(!rec.skipped)
    }
    assert(count == n)
    assert(logical > Int.MaxValue.toLong, s"stream only $logical bytes")
  }

  test("oversize bodies are skipped in-stream and SURFACED, the walk continues") {
    val big = Array.fill[Byte](50000)('b')
    val out = new java.io.ByteArrayOutputStream()
    def rec(uri: String, body: Array[Byte]): Unit = {
      out.write((s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1"))
      out.write(body)
      out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    }
    rec("a", "HTTP/1.1 200 OK\r\n\r\nsmall-a".getBytes("ISO-8859-1"))
    rec("huge", big)
    rec("b", "HTTP/1.1 200 OK\r\n\r\nsmall-b".getBytes("ISO-8859-1"))
    val pages = WarcOps.pageIterator(
      new java.io.ByteArrayInputStream(out.toByteArray), gz = false,
      maxBodyBytes = 1000).toVector
    assert(pages.map(_.uri) == Vector("a", "huge", "b"))
    assert(pages(1).html == null) // error channel, not a silent drop
    assert(new String(pages(0).html, "ISO-8859-1") == "small-a")
    assert(new String(pages(2).html, "ISO-8859-1") == "small-b")
  }

  test("round-5 regression: a >512 MB .warc.gz parses (was: silent Nil via Int overflow)") {
    // the old whole-file inflate pre-sized `bytes.length * 4`, which goes
    // negative past 512 MiB of gz input and silently yielded ZERO pages.
    // NO_COMPRESSION members make a big gz cheap to build.
    val bodyLen = 1 << 20
    val nRecs = 550 // ~576 MiB raw, gz slightly larger at level 0
    val page = Array.fill[Byte](bodyLen)('z')
    val out = new java.io.ByteArrayOutputStream(600 << 20)
    (0 until nRecs).foreach { k =>
      val gz = new java.util.zip.GZIPOutputStream(out) {
        `def`.setLevel(java.util.zip.Deflater.NO_COMPRESSION)
      }
      val http = "HTTP/1.1 200 OK\r\n\r\n".getBytes("ISO-8859-1")
      gz.write((s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u$k\r\n" +
        s"Content-Length: ${http.length + bodyLen}\r\n\r\n").getBytes("ISO-8859-1"))
      gz.write(http)
      gz.write(page)
      gz.write("\r\n\r\n".getBytes("ISO-8859-1"))
      gz.finish()
      gz.close()
    }
    val bytes = out.toByteArray
    assert(bytes.length > (512 << 20), s"gz only ${bytes.length} bytes")
    // stream the parse; counting instead of collecting keeps the test lean
    val it = WarcOps.pageIterator(
      new java.io.ByteArrayInputStream(bytes), gz = true)
    var count = 0
    it.foreach { pg => count += 1; assert(pg.html.length == bodyLen) }
    assert(count == nRecs, s"parsed $count of $nRecs — the overflow cliff is back")
  }

  test("header-block cap stops a pathological unbounded header, never a throw") {
    // a "record" whose header never ends: the reader must give up at the
    // cap instead of buffering forever
    val evil = new InputStream {
      private var sent = 0L
      override def read(): Int = { sent += 1; if (sent < 100000000L) 'h' else -1 }
    }
    val reader = new WarcOps.WarcRecordReader(evil, maxHeaderBytes = 4096)
    assert(!reader.hasNext) // gave up within the cap — and fast
  }

  test("synthWarcDir writes real multi-record .warc.gz files; the file source round-trips them") {
    val dir = WarcOps.synthWarcDir(spark, sfDir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(files.length == ((nDocs + 15) / 16).toInt)
    // every file parses standalone through the streaming reader
    val f0 = files.minBy(_.getName)
    val pages0 = WarcOps.pageIterator(new java.io.FileInputStream(f0), gz = true).toVector
    assert(pages0.nonEmpty && pages0.forall(_.uri.startsWith("https://warc-")))

    val df = WarcOps.readWarcFiles(spark, dir).cache()
    try {
      val expectedPages = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(sum(col("doc_id") % 3 + 1)).head().getLong(0)
      assert(df.count() == expectedPages)
      assert(df.where(col("html").isNull).count() == 0)
      // spot-check bodies against the closed form
      val row = df.where(col("uri") === WarcOps.pageUri(7L, 1)).head()
      assert(new String(row.getAs[Array[Byte]]("html"), "ISO-8859-1") == WarcOps.pageHtml(7L, 1))
      assert(row.getAs[String]("warc_date") == "2025-01-01T00:00:01Z")
      // early exit (limit) must not wedge on open streams
      assert(WarcOps.readWarcFiles(spark, dir).limit(3).collect().length == 3)
    } finally df.unpersist()
  }

  test("warcPages -> ExtractJob: .warc.gz files to lineage end-to-end, then exactly-once resume") {
    val dir = WarcOps.synthWarcDir(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft-warc-e2e").toString
    val cfg = ExtractJob.Config(buckets = 8, runId = "w1")
    val pages = WarcOps.warcPages(spark, dir)
    val total = pages.count()
    assert(total > 0)
    // parsed WARC-Dates must all land as real timestamps
    assert(pages.where(col("warc_ts").isNull).count() == 0)

    // simulated failure: first run only completes buckets 0..3
    val firstHalf = pages.withColumn("b", ExtractJob.bucketCol(cfg.salt, cfg.buckets))
      .where(col("b") < 4).drop("b")
    ExtractJob.run(spark, firstHalf, out, cfg)
    assert(spark.read.parquet(s"$out/lineage").count() == 4)

    // resume over the full file source: pending buckets only, exactly-once
    ExtractJob.run(spark, pages, out, cfg.copy(runId = "w2"))
    val lineage = spark.read.parquet(s"$out/lineage")
    assert(lineage.count() == 8)
    assert(lineage.select("partition_id").distinct().count() == 8)
    val agg = lineage.agg(sum("doc_count"), sum("failure_count")).head()
    assert(agg.getLong(0) == total)
    assert(agg.getLong(1) == 0L)
    val extracted = spark.read.parquet(s"$out/extracted")
    assert(extracted.count() == total)
    assert(extracted.select("url").distinct().count() == total)
    assert(extracted.where(col("text").isNull).count() == 0)
  }

  test("q_warc_file gate row matches its closed form on sf0.001") {
    val df = graft.SparkEntry.queryTable.find(_.name == "q_warc_file").get.body(spark, sfDir)
    val rows = df.collect()
    val nPages = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(sum(col("doc_id") % 3 + 1)).head().getLong(0)
    assert(rows.length == nPages.toInt)
    rows.take(50).foreach { r =>
      val uri = r.getAs[String]("uri")
      val m = "https://warc-(\\d+)\\.example/p(\\d+)".r.findFirstMatchIn(uri).get
      assert(r.getAs[String]("main_txt") == s"w${m.group(1)} body ${m.group(2)}")
    }
  }
}
