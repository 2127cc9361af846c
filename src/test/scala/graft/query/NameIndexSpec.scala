package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.Esc
import graft.dom.{Arena, Entities}
import graft.html.ParseOptions
import graft.selector.{Combinator, Selector, Simple}
import graft.spark.{Extractor, UrlOps}

/** Differential spec for the element-name index: root-context selectors
  * that start from a tag's chain (`Arena.nameHead`) instead of walking
  * the tree must select what an independent walk selects. The oracle walks
  * the tree recursively and matches each element right to left against
  * the selector's compounds with `Engine.matchOne`, judging positional
  * rules and `:not` on its own. It covers `find`, `filter`, `not` and the
  * SQL `extract_text`/`extract_count`/`extract_attrs`/`extract_links`, on
  * fixture pages, crawl-profile pages (implied elements, formatting
  * clones, stray close tags), mixed-case, non-ASCII and malformed tag
  * names, two names with one hash, empty chains, the same document after
  * every kind of structural mutation, and random pages under the compat,
  * crawl and strict profiles. */
class NameIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  // ================= oracle =================

  private def allElements(a: Arena): Seq[Int] = {
    val out = ArrayBuffer[Int]()
    def rec(n: Int): Unit = {
      var c = a.firstChild(n)
      while (c >= 0) { if (a.kind(c) == a.ELEM) { out += c; rec(c) }; c = a.nextSib(c) }
    }
    rec(0)
    out.toSeq
  }

  private def elementChildren(a: Arena, p: Int): Seq[Int] =
    Iterator.iterate(a.firstChild(p))(a.nextSib).takeWhile(_ >= 0).filter(a.kind(_) == a.ELEM).toSeq

  /** (rank among the element siblings, or among those of the same
    * lower-case name, counted from the end when `last`; sibling count) */
  private def rank(a: Arena, e: Int, ofType: Boolean, last: Boolean): (Int, Int) = {
    val childs = elementChildren(a, a.parent(e))
    val order = if (last) childs.reverse else childs
    val before = order.takeWhile(_ != e)
    (if (ofType) before.count(c => a.lowerName(c) == a.lowerName(e)) else before.length, childs.length)
  }

  private def simple(doc: VDoc, e: Int, s: Simple): Boolean = {
    val a = doc.arena
    s match {
      case Simple.Nth(ofType, last, hasN, n, idx) =>
        a.parent(e) >= 0 && {
          val (r, total) = rank(a, e, ofType, last)
          Engine.allowedIndexes(hasN, n, idx, total).contains(r)
        }
      case Simple.OnlyChild => a.parent(e) >= 0 && elementChildren(a, a.parent(e)).length == 1
      case Simple.OnlyOfType =>
        a.parent(e) >= 0 &&
          !elementChildren(a, a.parent(e)).exists(c => c != e && a.lowerName(c) == a.lowerName(e))
      case Simple.Not(sel) => !matches(doc, e, sel)
      case other => Engine.matchOne(doc, e, other)
    }
  }

  /** `e` matches segment `i` of `segs` and, through the segment's
    * combinator, some element that matches the segments before it */
  private def matchFrom(doc: VDoc, e: Int, segs: Vector[graft.selector.Segment], i: Int): Boolean = {
    val a = doc.arena
    if (!segs(i).simples.forall(simple(doc, e, _))) return false
    def prev(x: Int): Boolean = x > 0 && a.kind(x) == a.ELEM && matchFrom(doc, x, segs, i - 1)
    segs(i).comb match {
      case Combinator.ChildrenAll =>
        i == 0 || Iterator.iterate(a.parent(e))(a.parent).takeWhile(_ > 0).exists(prev)
      case Combinator.Children => if (i == 0) a.parent(e) == 0 else prev(a.parent(e))
      case Combinator.Next => i > 0 && prev(a.prevElemSib(e))
      case Combinator.NextAll =>
        i > 0 && Iterator.iterate(a.prevElemSib(e))(a.prevElemSib).takeWhile(_ >= 0).exists(prev)
      case other => fail(s"no oracle for combinator $other")
    }
  }

  private def matches(doc: VDoc, e: Int, sel: Selector): Boolean =
    sel.process.exists { p =>
      val segs = (p.shouldIn.getOrElse(Nil) ++ p.query).toVector
      matchFrom(doc, e, segs, segs.length - 1)
    }

  private def oracleFind(doc: VDoc, s: String): Seq[Int] = {
    val sel = Selector.parse(s, useLookup = false).fold(e => fail(Esc(s"$s: $e")), identity)
    allElements(doc.arena).filter(matches(doc, _, sel))
  }

  // ================= inputs =================

  private val page =
    """<html><head><base href="https://base.example/dir/"><title>T</title></head><body>
      |<article><h1 class="title">Title</h1><ul class="items"><li>1</li><li class="x">2</li><li>3</li>
      |<li>4</li><li>5</li></ul></article>
      |<h1 class="title other">Second</h1><ul class="items"><li>a</li></ul>
      |<div class="card"><p>a deal here</p><div class="card sponsored"><p>deal two</p></div></div>
      |<div class="ad">ad</div><script>var x;</script>
      |<section class="s"><span class="v">s1</span></section><section class="s"><span class="v">s2</span>
      |<section class="s"><span class="v">nested</span></section><section class="s">x</section></section>
      |<a href="https://x.example/a" rel="nofollow">x</a><a href="/rel?q=1&amp;r=2" rel="ugc nofollow">y</a>
      |<a href="http://z.example/">z</a><a>none</a><a href="https://w.example/" rel="nofollow">w</a>
      |<C0 class="k">c0</C0><an>an</an><c0>c0b</c0><AN class="k">AN</AN><Div class="card">mixed</Div>
      |<p hidden>h</p><P class="x">upper</P></body></html>""".stripMargin

  /** MutationSpec and ContentSpec fixtures */
  private val fixtures = Seq(
    """<div class="parent"><div class="first-child"></div></div>""",
    """<div class="second-child"></div><div class="third-child"></div>""",
    """<div><p></p><ul></ul><ol></ol></div>""",
    """<div id="content">This is a <strong>test</strong>!</div>""",
    """<div id="content"><img src="picture.jpg" /></div>""",
    "abc<span>def</span><!--ghi-->",
    """<div id="wrapper"><div id="inner"></div></div>""",
    """
  <input type="text" value="textinput" />
  <input type="radio" name="radioinput" value="radio1" />
  <input type="radio" name="radioinput" value="radio2" checked="checked" />
  <input type="checkbox" name="checkboxinput" value="checkbox2" checked="checked" />
  <p value="abc"></p>
  <input type="text" name="novalue" />
  """,
    """
  <select multiple>
    <optgroup>
      <option value="1">1</option>
      <option value="2" selected>2</option>
    </optgroup>
    <optgroup>
      <option value="4">4</option>
      <option value="5" selected>5</option>
    </optgroup>
    <option value="7" selected>7</option>
  </select>
  <select><option value="1">1</option><option value="2">2</option></select>
  """)

  /** crawl-profile pages: implied html/head/body, formatting clones and
    * stray close tags */
  private val crawlPages = Seq(
    "<ul><li><b>a<li>b</ul>", "<p><b>x<p>y", "<b><i></b>after<i>two</i>", "<i><b class=\"x\"></i>t<b>u</b>",
    "<p>a</body>b<p>c", "<title>t</title><meta charset=\"x\"><div>content</div><style>s</style><div>two</div>",
    "<html><body>a</body><div>d</div></html>", "<table><tr><td>a<td>b<tr><td>c</table>",
    "<ul><li><b><i><u><s><a><em><tt><font><code>x<li>y</ul><a href=\"/z\">z</a>",
    "<!-- c --><p>one<div>two<p>three</div><b>four<p>five</b>six</p><h1>a<h2>b<p>c<h3>d",
    "<b><div></b>after<div>x</div>", "<html><head><body/><meta charset=\"u\">x<p>y", "<title>t</title><div>x</div><meta charset=\"x\"><title>u</title><div>y</div>",
    "<div>a</div><head><meta charset=x></head><div>b</div>", "<p>x</p><link rel=\"a\"><p>y</p>",
    "<body><p>a</p></body><head><title>late</title></head>", "<table><tr><td>a</td></tr><p>foster</p></table>",
    "<p>a<title>b</title><p>c<style>d</style><meta name=x><p>e")

  /** tag names the parser cannot produce (non-ASCII, malformed), written
    * into the arena after the parse and before any query */
  private val renames: Seq[(String, Array[Byte])] = Seq(
    "x1" -> "é".getBytes(UTF_8), "x2" -> "É".getBytes(UTF_8), "x3" -> "é".getBytes(UTF_8),
    "x4" -> Array[Byte]('x', 0x80.toByte), "x5" -> "x\uFFFD".getBytes(UTF_8),
    "x6" -> Array[Byte]('X', 0x81.toByte), "x7" -> "Xé".getBytes(UTF_8))

  private val namesPage =
    "<section><Span>1</Span><span>2</span><SPAN>3</SPAN><x1>a</x1><x2>b</x2><x3>c</x3><x4>d</x4>" +
      "<x5>e</x5><x6>f</x6><x7>g</x7><x1>h</x1><p><x4>i</x4><x5>j</x5></p></section>" +
      "<c0>k</c0><an>l</an><C0>m</C0><aN>n</aN>"

  /** more names than the index's first tables hold, short and long */
  private val manyNamesPage =
    (0 until 80).map(i => s"<tag$i class=\"k\">x<LongName$i>y</LongName$i></tag$i><LONGNAME$i>z</LONGNAME$i>").mkString

  private def rename(a: Arena): Unit = allElements(a).foreach { e =>
    renames.find(r => a.lowerName(e) == r._1).foreach { case (_, name) =>
      a.nameOff(e) = a.appendRaw(name, 0, name.length)
      a.nameLen(e) = name.length
    }
  }

  private val sels = Seq(
    "div", "p", "P", "li", "a[href]", "base[href]", "h1.title", "article > h1.title",
    "h1.title + ul.items > li:nth-child(2n+1)", "div.card:not(.sponsored) p:contains(deal)",
    "section.s:nth-of-type(2) span.v", "section.s:last-of-type > span.v", "section:first-of-type",
    "span:nth-last-of-type(1)", "li:nth-of-type(odd)", "a[rel~=nofollow][href^=\"https://\"]",
    "div.ad, script", "h1, h2, h3", "p, div.card, li", "li, p, li.x", "h1.title, ul", "p, [hidden]",
    ".card", "[href]", "*", "table", "table.x, blink", "option:checked", "input[type='radio']",
    "select option", "optgroup > option:last-child", "c0", "an", "C0, an", "c0.k", "an.k, c0.k", ":not(p)",
    "div:not(.card, .ad)", "div:not(:first-child)", "li:only-of-type", "body", "html", "head", "b", "i",
    "b i", "p b", "div > p", "ul ~ div", "td, tr", "span", "SPAN", "é", "É", "x\uFFFD", "xé", "é:nth-of-type(2)",
    "p x5", "#content strong", "div#content", "strong, #inner", ":header", "h1:header", "tag79.k, longname3",
    "LONGNAME40", "tag7 > longname7", "longname1:nth-of-type(2)")

  /** sqlSels: the selectors a SQL string literal carries (no U+FFFD) */
  private val sqlSels = sels.filterNot(_.exists(_ == '\uFFFD'))

  private def load(html: String, opts: ParseOptions = ParseOptions.compat): VDoc =
    Vis.loadOptions(html, opts).fold(e => fail(Esc(s"parse: $e")), identity).doc

  private def docs(): Seq[(String, VDoc)] =
    Seq("page" -> load(page)) ++
      fixtures.zipWithIndex.map { case (f, i) => s"fixture $i" -> load(f) } ++
      crawlPages.zipWithIndex.map { case (p, i) => s"crawl $i" -> load(p, ParseOptions.crawl) } ++
      Seq("names" -> { val d = load(namesPage); rename(d.arena); d }, "many names" -> load(manyNamesPage))

  // ================= checks =================

  /** every chain of the index equals the oracle walk filtered by the tag,
    * and chain positions ascend */
  private def checkChains(label: String, doc: VDoc): Unit = {
    val a = doc.arena
    val names = allElements(a).map(a.lowerName).distinct ++ Seq("table", "c0", "an", "x\uFFFD")
    names.foreach { lower =>
      val tag = Simple.Tag(lower)
      val pos = Iterator.iterate(a.nameHead(tag.utf8, tag.hash))(a.nameNext).takeWhile(_ >= 0).toSeq
      val want = allElements(a).filter(Engine.matchOne(doc, _, tag))
      assert(pos.map(a.nameElem) == want, Esc(s"$label: chain of <$lower>"))
      assert(pos == pos.sorted && pos.distinct == pos, Esc(s"$label: positions of <$lower>"))
    }
  }

  private def check(label: String, doc: VDoc, selectors: Seq[String] = sels): Unit = {
    val a = doc.arena
    val root = doc.rootElems
    val all = new Elems(doc, allElements(a).toArray)
    checkChains(label, doc)
    selectors.foreach { s =>
      val want = oracleFind(doc, s)
      assert(root.find(s).ids.toSeq == want, Esc(s"$label: find($s)"))
      assert(all.filter(s).ids.toSeq == want, Esc(s"$label: filter($s)"))
      assert(all.not(s).ids.toSeq == all.ids.toSeq.filterNot(want.toSet), Esc(s"$label: not($s)"))
    }
  }

  test("find, filter and not equal the oracle walk on fixture, crawl and renamed pages") {
    docs().foreach { case (label, doc) => check(label, doc) }
  }

  test("two names with one hash keep two chains") {
    val c0 = Simple.Tag("c0")
    val an = Simple.Tag("an")
    assert(c0.hash == an.hash)
    val doc = load(namesPage)
    assert(doc.rootElems.find("c0").text() == "km")
    assert(doc.rootElems.find("an").text() == "ln")
    assert(doc.rootElems.find("c0, an").text() == "klmn")
    assert(doc.rootElems.find("table").isEmpty && doc.rootElems.find("table, blink").isEmpty)
  }

  test("ids out of document order: the chains follow the tree, not the ids") {
    // a prepended element has the highest id but comes first
    val doc = load("<div><p>1</p><p>2</p></div>")
    doc.rootElems.find("div").prepend(Vis.load("<p>0</p>").toOption.get)
    assert(doc.rootElems.find("p").text() == "012")
    check("prepended", doc)
  }

  test("a node moved to another document leaves the source document's chains") {
    val src = load("<div><p>1</p><p>2</p></div>")
    val dst = load("<section></section>")
    assert(src.rootElems.find("p").length == 2) // builds the source's index
    dst.rootElems.find("section").append(src.rootElems.find("p").first())
    check("moved-from", src)
    check("moved-to", dst)
    assert(src.rootElems.find("p").text() == "2" && dst.rootElems.find("p").text() == "1")
    src.rootElems.find("div").replaceWith(load("<ul><li>x</li></ul>").rootElems.find("ul"))
    check("replaced", src)
  }

  test("the index follows every structural mutation of one document") {
    def frag(html: String): Elems = Vis.load(html).fold(e => fail(e), identity)
    val doc = load(page)
    val root = doc.rootElems
    var step = 0
    def after(what: String)(mutate: => Unit): Unit = {
      root.find("h1").length // reads the index before the mutation
      mutate
      step += 1
      check(s"after $step: $what", doc)
    }
    after("remove")(root.find("div.ad").remove())
    after("append of an imported fragment")(
      root.find("ul.items").first().append(frag("<li class=\"x\">new</li><p>tail deal</p>")))
    after("prepend")(root.find("body").prepend(frag("<h1 class=\"title\">first</h1><section class=\"s\">0</section>")))
    after("before")(root.find("article").before(frag("<div class=\"card\"><p>deal before</p></div>")))
    after("after")(root.find("article").after(frag("<ul class=\"items\"><li>b1</li><li>b2</li></ul>")))
    after("insertBefore of a node of the same doc")(root.find("a").last().insertBefore(root.find("a").first()))
    after("replaceWith")(root.find("div.card.sponsored").replaceWith(frag("<div class=\"card\"><p>deal three</p></div>")))
    after("empty")(root.find("article").empty())
    after("setHtml")(root.find("section.s").first().setHtml("<span class=\"v\">new</span><h1 class=\"title\">in</h1>"))
    after("setText")(root.find("h1.title").last().setText("plain"))
    after("deepClone appended")(root.find("ul.items").first().deepClone().appendTo(root.find("body")))
    after("remove of many")(root.find("li:nth-child(odd), span").remove())
    after("text remove")(root.find("p").texts(1).remove())
    after("replaceWith of a same-doc node")(root.find("h1").first().replaceWith(root.find("c0").first()))
    after("appendTo of many")(root.find("an, AN").appendTo(root.find("ul.items").last()))
  }

  test("property: random pages under compat, crawl and strict equal the oracle") {
    val piece = Gen.oneOf(
      "<div>", "</div>", "<div class=\"card\">", "<p>", "</p>", "<P class=\"x\">", "<span>", "</span>",
      "<SPAN>", "<b>", "</b>", "<i>", "</i>", "<li>", "</li>", "<ul class=\"items\">", "</ul>", "<h1 class=\"title\">",
      "</h1>", "<a href=\"/x\">", "</a>", "<c0>", "</c0>", "<an>", "</an>", "<AN class=\"k\">", "<body>", "</body>",
      "<html>", "</html>", "<head>", "<title>t</title>", "<br/>", "<section class=\"s\">", "</section>", "deal",
      "text", " ", "<!-- c -->", "<script>x</script>", "<table><tr><td>")
    val html = Gen.listOf(piece).map(_.take(60).mkString)
    val profiles = Seq(ParseOptions.compat, ParseOptions.crawl, ParseOptions.strict)
    val propSels = Seq("div", "p", "span", "li", "b i", "h1.title", "div.card p:contains(deal)",
      "section.s:nth-of-type(2)", "p:nth-of-type(2n+1)", "c0, an", "li, p, b", "ul.items > li:last-child",
      "div:not(.card)", "a[href]", "p, [class]", "*")
    var failure: String = null
    val prop = Prop.forAll(html) { h =>
      profiles.forall { opts =>
        Vis.loadOptions(h, opts) match {
          case Left(_) => true // a strict parse may reject the page
          case Right(root) =>
            val doc = root.doc
            propSels.forall { s =>
              val ok = root.find(s).ids.toSeq == oracleFind(doc, s)
              if (!ok && failure == null) failure = Esc(s"\"$h\" under $opts: find($s)")
              ok
            }
        }
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(400)
      .withInitialSeed(org.scalacheck.rng.Seed(7919L)), prop)
    assert(res.passed, s"first failure: $failure")
  }

  // ================= SQL =================

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-name-index-test")
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

  private val pageUrl = "https://site.example/a/b.html"

  /** the SQL pages: they parse under the compat profile */
  private val sqlPages: Seq[String] = Seq(page) ++ fixtures ++ crawlPages

  /** extract_links by the oracle: the first `base[href]` sets the base,
    * every `a[href]` resolves against it and normalizes */
  private def oracleLinks(doc: VDoc): Seq[String] = {
    def hrefs(s: String) = oracleFind(doc, s).flatMap(e => new Elems(doc, Array(e)).attr("href").map(_.value))
    val base = hrefs("base[href]").headOption.map(h => UrlOps.resolve(pageUrl, Entities.decode(h)))
      .filter(_ != null).getOrElse(pageUrl)
    hrefs("a[href]").flatMap(h => Option(UrlOps.resolve(base, Entities.decode(h))).flatMap(r => Option(UrlOps.normalize(r))))
  }

  /** rows of (id, page, selector, count, text, attrs, links) by the oracle */
  private lazy val expected: Seq[(Int, String, String, Long, String, Seq[String], Seq[String])] = {
    var id = 0
    for (p <- sqlPages; s <- sqlSels) yield {
      val doc = load(p)
      val found = oracleFind(doc, s)
      val attrs = found.flatMap(e => new Elems(doc, Array(e)).attr("class").map(_.value))
      id += 1
      (id, p, s, found.length.toLong, new Elems(doc, found.toArray).text(), attrs, oracleLinks(doc))
    }
  }

  private def assertSql(): Unit = {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("html", BinaryType),
      StructField("sel", StringType), StructField("url", StringType)))
    val rows = expected.map(r => Row(r._1, r._2.getBytes(UTF_8), r._3, pageUrl))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .selectExpr("id", "html", "CAST(html AS STRING) AS html_s", "sel", "url")
    for (col <- Seq("html", "html_s")) {
      val got = df.selectExpr("id", s"extract_count($col, sel)", s"extract_text($col, sel)",
        s"extract_attrs($col, sel, 'class')", s"extract_links($col, url)")
        .collect().map(r => r.getInt(0) -> r).toMap
      expected.foreach { case (id, p, s, cnt, text, attrs, links) =>
        val r = got(id)
        val label = Esc(s"$col ${p.take(40)}")
        assert(r.getLong(1) == cnt, Esc(s"$label: extract_count($s)"))
        assert(r.getString(2) == text, Esc(s"$label: extract_text($s)"))
        assert(r.getSeq[String](3).toSeq == attrs, Esc(s"$label: extract_attrs($s)"))
        assert(r.getSeq[String](4).toSeq == links, Esc(s"$label: extract_links"))
      }
    }
  }

  test("SQL extract_count, extract_text, extract_attrs and extract_links equal the oracle (whole-stage codegen)") {
    withConf("spark.sql.codegen.wholeStage" -> "true")(assertSql())
  }

  test("SQL extract_count, extract_text, extract_attrs and extract_links equal the oracle (interpreted)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertSql())
  }
}
