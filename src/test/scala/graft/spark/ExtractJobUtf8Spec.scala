package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.Esc

/** [[ExtractJob]] carries the main text from the arena to the parquet
  * writer as UTF-8 bytes. These specs pin that the written `text` is, byte
  * for byte, the UTF-8 of [[Extractor.extractMain]] over the same page:
  * malformed input, a sequence split across text nodes and entities
  * included; a null page gives a failure row; `clean = true` gives the
  * UTF-8 of the cleaned String. */
class ExtractJobUtf8Spec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extract-job-utf8-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def bytes(parts: Any*): Array[Byte] = parts.flatMap {
    case s: String => s.getBytes(UTF_8).toSeq
    case b: Array[Byte] => b.toSeq
    case i: Int => Seq(i.toByte)
  }.toArray

  private val boiler = "<nav><a href=\"/\">home</a></nav><footer>foot &copy;</footer>"

  /** (name, html) */
  private val pages: Seq[(String, Array[Byte])] = Seq(
    "lone continuation" -> bytes("<main><p>a", 0x80, "b", 0xbf, 0xbf, "</p>", boiler, "</main>"),
    "truncated leads" -> bytes("<main><p>x", 0xe2, 0x82, "</p><p>y", 0xf0, 0x9f, 0x98, "</p></main>", boiler),
    "encoded surrogate" -> bytes("<main><p>", 0xed, 0xa0, 0xbd, " and ", 0xed, 0xb8, 0x80, "</p></main>"),
    "overlong and past U+10FFFF" -> bytes("<main>", 0xc0, 0xaf, " ", 0xf4, 0x90, 0x80, 0x80, "</main>"),
    "split across text nodes" -> bytes("<main><p>a", 0xc3, "<b>", 0xa9, "</b>b</p>",
      "<p>", 0xe2, 0x82, "<i>", 0xac, "</i></p></main>"),
    "named, numeric and astral entities" -> bytes(
      "<main><p>&amp; &lt;&gt; &eacute; &#233; &#xE9; &#x1F600; &#128512; &fopf; ",
      "&#xD83D; &#0; &#x110000; &nbsp;&notanentity; &amp</p></main>", boiler),
    "valid multi-byte" -> bytes("<main><h1>日本語</h1><p>Ünïcode — ok 😀</p></main>", boiler),
    "no main element" -> bytes("<div><p>caf", 0xc3, 0xa9, " &eacute;</p></div>", boiler),
    "mojibake and pii" -> bytes("<main><p>see cafÃ© deals, mail a.b@ex.com, call +1 (555) 123-4567</p></main>"))

  private def urlOf(i: Int) = s"https://utf8.example/page/$i"

  /** (url, text as its raw UTF-8 bytes, failed) per row of the output */
  private def runJob(withNull: Boolean, clean: Boolean): Map[String, (Array[Byte], Boolean)] = {
    val s = spark
    import s.implicits._
    val rows = pages.indices.map(i => (urlOf(i), new java.sql.Timestamp(1735689600000L + i), pages(i)._2)) ++
      (if (withNull) Seq(("https://utf8.example/null", new java.sql.Timestamp(0L), null: Array[Byte]))
       else Nil)
    val out = java.nio.file.Files.createTempDirectory("graft-job-utf8").toString
    ExtractJob.run(spark, rows.toDF("url", "warc_ts", "html"), out,
      ExtractJob.Config(buckets = 2, runId = "utf8", clean = clean))
    spark.read.parquet(s"$out/extracted")
      .select(col("url"), col("text").cast("binary"), col("failed"))
      .as[(String, Array[Byte], Boolean)].collect()
      .map { case (u, t, f) => u -> (t, f) }.toMap
  }

  private def assertBytes(name: String, got: Array[Byte], want: Array[Byte]): Unit =
    assert(java.util.Arrays.equals(got, want),
      s"$name: written ${Esc.bytes(got)}, want ${Esc.bytes(want)}")

  test("written text is the UTF-8 of Extractor.extractMain, byte for byte; null html is a failure row") {
    val got = runJob(withNull = true, clean = false)
    assert(got.size == pages.size + 1)
    pages.indices.foreach { i =>
      val (name, html) = pages(i)
      val want = Extractor.extractMain(html, Extractor.Recipe.default)
      assert(want != null, name)
      val (text, failed) = got(urlOf(i))
      assert(!failed, name)
      assertBytes(name, text, want.getBytes(UTF_8))
      // and the bytes of SQL `extract_main`, which builds them the same way
      assertBytes(name, text, Extractor.extractMainCodegen(html).getBytes)
    }
    val (nullText, nullFailed) = got("https://utf8.example/null")
    assert(nullText == null && nullFailed)
  }

  test("clean = true writes the UTF-8 of the cleaned String") {
    val got = runJob(withNull = false, clean = true)
    assert(got.size == pages.size)
    pages.indices.foreach { i =>
      val (name, html) = pages(i)
      val want = TextNorm.scrubPii(TextNorm.fixText(Extractor.extractMain(html, Extractor.Recipe.default)))
      val (text, failed) = got(urlOf(i))
      assert(!failed, name)
      assertBytes(name, text, want.getBytes(UTF_8))
    }
    val cleaned = new String(got(urlOf(pages.size - 1))._1, UTF_8)
    assert(cleaned.contains("café") && !cleaned.contains("a.b@ex.com"), Esc(cleaned))
  }
}
