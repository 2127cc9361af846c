package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.html.ParseOptions

/** The read-only `extract_*` entries share the thread's last clean parse
  * of the same bytes ([[Extractor.parseShared]]). These specs pin that the
  * sharing is invisible: a projection mixing read-only and mutating
  * (`extract_main`) expressions equals each expression selected alone,
  * under whole-stage codegen and fully interpreted; and the memo hits only
  * on equal content under the same profile, never across a public parse
  * or an `extract_main`. Lives in `graft.spark` for the `private[spark]`
  * lookup. */
class ParseOnceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: java.io.File = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-parse-once-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    dir = java.nio.file.Files.createTempDirectory("parse-once").toFile
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  // nav/footer hold `li`, `p` and `a` matches that extract_main's strip
  // walk removes: a read-only call that reused the stripped doc would
  // lose them
  private val full =
    "<html><head><title> T &amp; 1 </title><base href=\"/sub/\"></head><body>" +
      "<nav><ul><li>n1</li><li>n2</li></ul><a href=\"/nav\">nav</a></nav>" +
      "<main><h1>Head</h1><p>para <a href=\"x.html\" rel=\"nofollow\">one</a></p>" +
      "<ul><li>m1</li></ul></main><footer><p>foot <a href=\"f.html\">f</a></p></footer>" +
      "</body></html>"
  private val fragment = "<p>frag <a href=\"http://ex.com/a\">a</a></p><li>x<nav><li>y</li></nav>"
  private val unicode =
    "<title>Ünïcode — ok</title><div><p>日本語 text</p><nav><li>z</li></nav></div>"

  // same length as `full`, other content: only a content compare tells
  // them apart
  private val sameLength = full.replace("n1", "k1").replace("one", "two")

  // identical pages back to back (same bytes, other url) and again after
  // a different page: the rows a per-thread memo can hit across
  private val pages: Seq[(Int, String, String)] = Seq(
    (1, "https://ex.com/dir/a.html", full),
    (2, "https://ex.com/other/b.html", full),
    (3, "https://ex.com/other/c.html", sameLength),
    (4, "https://ex.com/c", fragment),
    (5, "https://ex.com/d", unicode),
    (6, "https://ex.com/e", null),
    (7, "https://ex.com/f", full),
    (8, "https://ex.com/g", ""),
    (9, "https://ex.com/h", unicode))

  // extract_main sits between two read-only calls; density (crawl
  // profile) follows title (compat profile)
  private val exprs = Seq(
    "extract_text(html, 'p, h1')",
    "extract_count(html, 'li')",
    "extract_main(html)",
    "extract_attrs(html, 'a', 'href')",
    "extract_links(html, url)",
    "extract_title(html)",
    "extract_main_density(html)")

  private lazy val input: DataFrame = {
    val s = spark; import s.implicits._
    val path = s"$dir/pages"
    pages.map { case (id, url, html) =>
      (id, url, html, if (html == null) null else html.getBytes(UTF_8))
    }.toDF("id", "url", "html_s", "html_b").coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private def assertTogetherEqualsAlone(htmlCol: String): Unit = {
    val df = input.select(col("id"), col("url"), col(htmlCol).as("html"))
    val together = df.selectExpr("id" +: exprs.zipWithIndex.map { case (e, i) => s"$e AS c$i" }: _*)
      .collect().sortBy(_.getInt(0))
    assert(together.length == pages.length)
    exprs.zipWithIndex.foreach { case (e, i) =>
      val alone = df.selectExpr("id", s"$e AS c").collect().sortBy(_.getInt(0))
      assert(together.map(_.get(i + 1)).toSeq == alone.map(_.get(1)).toSeq,
        s"$htmlCol: $e in the mixed projection differs from $e alone")
    }
    // the shared parse must not leak extract_main's strip into a later
    // read-only call: nav items still count on the full page
    assert(together.head.getLong(2) == 3L)
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("mixed projection == each expression alone (whole-stage codegen)") {
    withConf("spark.sql.codegen.wholeStage" -> "true") {
      assertTogetherEqualsAlone("html_b")
      assertTogetherEqualsAlone("html_s")
    }
  }

  test("mixed projection == each expression alone (interpreted)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertTogetherEqualsAlone("html_b")
      assertTogetherEqualsAlone("html_s")
    }
  }

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def text(doc: graft.query.VDoc): String = doc.rootElems.text()

  test("memo: equal bytes share one VDoc; in-place edits parse afresh") {
    val page = bytes("<div><p>aaa</p></div>")
    val a = Extractor.parseShared(page, ParseOptions.compat)
    // content, not identity: a copy of the bytes hits
    assert(Extractor.parseShared(page.clone(), ParseOptions.compat) eq a)
    // a reused row buffer: same array, new content, same length
    page(8) = 'b'; page(9) = 'b'; page(10) = 'b'
    val b = Extractor.parseShared(page, ParseOptions.compat)
    assert(!(b eq a))
    assert(text(b) == "bbb")
    // a different length misses too
    val c = Extractor.parseShared(bytes("<div><p>bbb</p></div> "), ParseOptions.compat)
    assert(!(c eq b))
    assert(text(c) == "bbb ")
  }

  test("memo: compat and crawl profiles never share") {
    val page = bytes("<p>x</p>")
    val compat = Extractor.parseShared(page, ParseOptions.compat)
    assert(compat.body.isEmpty)
    val crawl = Extractor.parseShared(page, ParseOptions.crawl)
    assert(!(crawl eq compat))
    assert(crawl.body.isDefined, "the crawl profile implies <body>")
    val again = Extractor.parseShared(page, ParseOptions.compat)
    assert(!(again eq crawl))
    assert(again.body.isEmpty)
  }

  test("memo: a public parse or extract_main in between forces a fresh parse") {
    val page = bytes(full)
    val a = Extractor.parseShared(page, ParseOptions.compat)
    assert(Extractor.parseShared(page, ParseOptions.compat) eq a)
    Extractor.parseBytes(page)
    val b = Extractor.parseShared(page, ParseOptions.compat)
    assert(!(b eq a))
    Extractor.parseBytesCrawl(page)
    val c = Extractor.parseShared(page, ParseOptions.compat)
    assert(!(c eq b))
    // extract_main strips nav/footer in the thread's arena
    assert(Extractor.extractMainCodegen(page).toString == "Headpara onem1")
    val d = Extractor.parseShared(page, ParseOptions.compat)
    assert(!(d eq c))
    assert(d.rootElems.find("nav li").length == 2, "the stripped doc must not be reused")
    Extractor.parse(full)
    assert(!(Extractor.parseShared(page, ParseOptions.compat) eq d))
  }
}
