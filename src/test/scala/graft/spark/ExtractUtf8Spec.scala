package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.Esc
import graft.dom.Arena
import graft.html.{ParseOptions, Parser}
import graft.query.{Elems, VDoc}

/** The SQL entries that write UTF-8 straight from the arena give the API's
  * Strings: `extract_html` equals `Elems.outerHtml` per match (its bytes
  * those of the String, so never malformed), and
  * `extract_text`, `extract_main` and `extract_main_crawl` equal
  * `Elems.text()` byte for byte — on multi-byte pages and on malformed
  * UTF-8, a lead byte and a continuation byte in two text runs included —
  * for BINARY and STRING columns, with whole-stage codegen and
  * interpreted. */
class ExtractUtf8Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extract-utf8-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bytes(parts: Any*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach {
      case s: String => out.write(s.getBytes(UTF_8))
      case b: Int => out.write(b)
    }
    out.toByteArray
  }

  private val pages: Seq[Array[Byte]] = Seq(
    bytes("<html><body><main><p class=\"x\">caf&eacute; 好 😀 a < b</p><p>two &amp; é</p></main></body></html>"),
    bytes("<p>a", 0xc3, "<b>", 0xa9, "</b>b</p>"),
    bytes("<article><p class=\"x\">a", 0xc3, "<!---->", 0xa9, "b</p><nav>n", 0xc3, "</nav>", 0xa9, "c</article>"),
    bytes("<main><script>", 0xc3, "</script><p title=\"", 0xe2, 0x82, "\">", 0xed, 0xa0, 0x80, "</p></main>"),
    bytes("<div><p class=\"x\">", 0xc0, 0xaf, "<i>", 0x80, "</i>", 0xf0, 0x9f, "</p><p>ok é</p></div>"),
    bytes("<p>only", 0xf0, 0x9f),
    bytes("texte <b>é</b></body> après ", 0xc3, "<p>", 0xa9, "</p>"))

  private val selectors = Seq("p", "p.x", "main, article", "b, i", "div > p", "*")

  private def parse(html: Array[Byte], opts: ParseOptions): VDoc = {
    val a = new Arena()
    Parser.parseIntoUtf8(a, html, opts).foreach(e => fail(e.message))
    new VDoc(a)
  }

  /** the recipe through the general API: remove, then the first candidate */
  private def mainText(html: Array[Byte], opts: ParseOptions): String = {
    val recipe = Extractor.Recipe.default
    val root = parse(html, opts).rootElems
    root.find(recipe.remove).remove()
    recipe.mainCandidates.iterator.map(root.find).find(_.nonEmpty).map(_.first()).getOrElse(root).text()
  }

  private def same(got: String, want: String, what: => String): Unit =
    if (got != want) fail(s"${Esc(what)}:\n got  \"${Esc(got)}\"\n want \"${Esc(want)}\"")

  private def assertSql(): Unit = {
    val rows = for ((p, i) <- pages.zipWithIndex; (s, j) <- selectors.zipWithIndex) yield Row(i * 100 + j, p, s)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("html", BinaryType),
      StructField("sel", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .selectExpr("id", "html", "CAST(html AS STRING) AS html_s", "sel")
    for (col <- Seq("html", "html_s")) {
      val got = df.selectExpr("id", s"extract_html($col, sel)", s"extract_text($col, sel)",
        s"extract_main($col)", s"extract_main_crawl($col)").collect().map(r => r.getInt(0) -> r).toMap
      for ((p, i) <- pages.zipWithIndex; (s, j) <- selectors.zipWithIndex) {
        val r = got(i * 100 + j)
        val found = parse(p, ParseOptions.compat).rootElems.find(s)
        val what = s"$col page $i ${Esc.bytes(p)} sel $s"
        val html = r.getSeq[String](1)
        assert(html.length == found.length, s"$what: extract_html count")
        html.zip(found.ids).foreach { case (g, e) =>
          same(g, new Elems(found.doc, Array(e)).outerHtml(), s"$what: extract_html")
        }
        same(r.getString(2), found.text(), s"$what: extract_text")
        same(r.getString(3), mainText(p, ParseOptions.compat), s"$what: extract_main")
        same(r.getString(4), mainText(p, ParseOptions.crawl), s"$what: extract_main_crawl")
      }
    }
  }

  test("extract_html, extract_text, extract_main(_crawl) equal the API (whole-stage codegen)") {
    withConf("spark.sql.codegen.wholeStage" -> "true")(assertSql())
  }

  test("extract_html, extract_text, extract_main(_crawl) equal the API (interpreted)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertSql())
  }

  test("extract_html holds the UTF-8 bytes of each match's outerHtml, never malformed bytes") {
    for ((p, i) <- pages.zipWithIndex; s <- selectors) {
      val got = Extractor.extractOuterHtmlCodegenBinary(p, org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val found = parse(p, ParseOptions.compat).rootElems.find(s)
      assert(got.numElements == found.length, s"page $i sel $s: count")
      for (k <- found.ids.indices) {
        val want = new Elems(found.doc, Array(found.ids(k))).outerHtml().getBytes(UTF_8)
        val bytes = got.getUTF8String(k).getBytes
        if (!java.util.Arrays.equals(bytes, want))
          fail(s"page $i ${Esc.bytes(p)} sel $s match $k:\n got  ${Esc.bytes(bytes)}\n want ${Esc.bytes(want)}")
      }
    }
  }

  test("SQL text from a lead/continuation pair split across two nodes is two U+FFFDs") {
    val html = bytes("<p>a", 0xc3, "<b>", 0xa9, "</b>b</p>")
    val text = Extractor.extractTextCodegenBinary(html, org.apache.spark.unsafe.types.UTF8String.fromString("p"))
    val main = Extractor.extractMainCodegen(html)
    for ((got, what) <- Seq(text -> "extract_text", main -> "extract_main")) {
      assert(graft.dom.Utf8.wellFormed(got.getBytes, 0, got.numBytes), s"$what: malformed ${Esc.bytes(got.getBytes)}")
      same(got.toString, "a\uFFFD\uFFFDb", what)
    }
  }
}
