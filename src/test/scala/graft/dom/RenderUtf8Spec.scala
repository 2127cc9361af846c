package graft.dom

import java.nio.charset.StandardCharsets.UTF_8
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.Esc
import graft.html.{ParseOptions, Parser}
import graft.query.{Elems, VDoc}

/** Differential spec for the UTF-8 renderer: `Arena.outerHtml`,
  * `innerHtml`, `sourceCode`, `textChars` and the `Elems` entries `html`,
  * `htmls`, `outerHtml`, `outerHtmls` and `textChars` must return the
  * Strings of the StringBuilder renderer they replaced, kept below as the
  * oracle. Cases: the MutationSpec and ContentSpec fixtures, multi-byte
  * pages (entities, comments, CDATA, doctype, content tags with appended
  * text, crawl-mode implied elements and stray close tags), malformed
  * UTF-8 parsed from bytes, and String documents mutated with unpaired
  * surrogates, both quote kinds and fragments copied from malformed
  * documents. Also: `textUtf8Exact` is the UTF-8 of `text()`; the
  * decoder property the unchecked String entries rest on
  * (`Arena.renderString`); and (a property) every span the parser cuts
  * from a String is well-formed UTF-8, so such a document never takes a
  * per-span decode fallback. */
class RenderUtf8Spec extends AnyFunSuite {

  // ================= oracle: the StringBuilder renderer =================

  private object Oracle {
    def appendSpanTo(a: Arena, off: Int, len: Int, out: java.lang.StringBuilder): Unit = {
      var i = off
      val end = off + len
      var ascii = true
      while (i < end && ascii) { if (a.buf(i) < 0) ascii = false else i += 1 }
      if (ascii) {
        i = off
        while (i < end) { out.append(a.buf(i).toChar); i += 1 }
      } else out.append(a.str(off, len))
    }

    def textChars(a: Arena, id: Int): String = a.kind(id) match {
      case a.TEXT | a.SPACES | a.CDATA => a.str(a.textOff(id), a.textLen(id))
      case a.ELEM | a.ROOT =>
        val sb = new java.lang.StringBuilder(64)
        renderInner(a, id, sb, encodeContent = false)
        sb.toString
      case a.COMMENT => "<!--" + a.str(a.textOff(id), a.textLen(id)) + "-->"
      case _ => ""
    }

    def renderNode(a: Arena, id: Int, out: java.lang.StringBuilder, encodeContent: Boolean): Unit = a.kind(id) match {
      case a.TEXT | a.SPACES =>
        if (encodeContent) encodeLtGt(a, a.textOff(id), a.textLen(id), out)
        else appendSpanTo(a, a.textOff(id), a.textLen(id), out)
      case a.COMMENT =>
        out.append("<!--"); appendSpanTo(a, a.textOff(id), a.textLen(id), out); out.append("-->")
      case a.CDATA =>
        out.append("<![CDATA["); appendSpanTo(a, a.textOff(id), a.textLen(id), out); out.append("]]>")
      case a.DOCTYPE => appendSpanTo(a, a.textOff(id), a.textLen(id), out)
      case a.RAWSPAN => appendSpanTo(a, a.textOff(id), a.textLen(id), out)
      case a.ROOT => renderInner(a, id, out, encodeContent)
      case a.ELEM if (a.flags(id) & a.F_IMPLIED) != 0 =>
        renderInner(a, id, out, encodeContent)
        if ((a.flags(id) & a.F_END_TAG) != 0) {
          out.append('<').append('/')
          appendSpanTo(a, a.nameOff(id), a.nameLen(id), out)
          out.append('>')
        }
      case a.ELEM =>
        out.append('<'); appendSpanTo(a, a.nameOff(id), a.nameLen(id), out)
        var at = a.attrHead(id)
        while (at >= 0) {
          if (!a.aRemoved(at)) {
            out.append(' '); appendSpanTo(a, a.aKeyOff(at), a.aKeyLen(at), out)
            if (a.aValOff(at) >= 0) {
              out.append('=')
              val q = a.aQuote(at)
              if (q != 0) out.append(q)
              appendSpanTo(a, a.aValOff(at), a.aValLen(at), out)
              if (q != 0) out.append(q)
            }
          }
          at = a.aNext(at)
        }
        if ((a.flags(id) & a.F_SELF_CLOSED) != 0) {
          if ((a.flags(id) & a.F_SELF_SPACE) != 0) out.append(' ')
          out.append('/')
          out.append('>')
        } else {
          out.append('>')
          if (a.isContentTag(id)) renderContentTagInner(a, id, out)
          else renderInner(a, id, out, encodeContent)
          if ((a.flags(id) & a.F_END_TAG) != 0) {
            out.append('<').append('/')
            appendSpanTo(a, a.nameOff(id), a.nameLen(id), out)
            out.append('>')
          }
        }
      case _ => ()
    }

    def renderInner(a: Arena, id: Int, out: java.lang.StringBuilder, encodeContent: Boolean): Unit = {
      if (a.kind(id) == a.ELEM && a.isContentTag(id)) {
        renderContentTagInner(a, id, out)
        return
      }
      var c = a.firstChild(id)
      while (c >= 0) { renderNode(a, c, out, encodeContent); c = a.nextSib(c) }
    }

    private def renderContentTagInner(a: Arena, id: Int, out: java.lang.StringBuilder): Unit = {
      appendSpanTo(a, a.textOff(id), a.textLen(id), out)
      var c = a.firstChild(id)
      while (c >= 0) {
        if (a.kind(c) == a.TEXT || a.kind(c) == a.SPACES)
          appendSpanTo(a, a.textOff(c), a.textLen(c), out)
        c = a.nextSib(c)
      }
    }

    private def encodeLtGt(a: Arena, off: Int, len: Int, out: java.lang.StringBuilder): Unit = {
      var i = off
      val end = off + len
      var runStart = off
      while (i < end) {
        val b = a.buf(i)
        if (b == '<' || b == '>') {
          if (i > runStart) appendSpanTo(a, runStart, i - runStart, out)
          out.append(if (b == '<') "&lt;" else "&gt;")
          runStart = i + 1
        }
        i += 1
      }
      if (i > runStart) appendSpanTo(a, runStart, i - runStart, out)
    }

    def innerHtml(a: Arena, id: Int): String = {
      val sb = new java.lang.StringBuilder(64)
      renderInner(a, id, sb, encodeContent = true)
      sb.toString
    }

    def outerHtml(a: Arena, id: Int): String = {
      val sb = new java.lang.StringBuilder(64)
      renderNode(a, id, sb, encodeContent = true)
      sb.toString
    }

    def sourceCode(a: Arena): String = {
      val sb = new java.lang.StringBuilder(a.bufLen)
      renderInner(a, 0, sb, encodeContent = false)
      sb.toString
    }
  }

  // ================= documents =================

  /** bytes from String pieces (UTF-8) and Int pieces (one raw byte each). */
  private def bytes(parts: Any*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach {
      case s: String => out.write(s.getBytes(UTF_8))
      case b: Int => out.write(b)
    }
    out.toByteArray
  }

  private def fromString(html: String, opts: ParseOptions = ParseOptions.compat): VDoc = {
    val a = new Arena()
    Parser.parseInto(a, html, opts).foreach(e => fail(s"parse: ${e.message}"))
    new VDoc(a)
  }

  /** a byte-parsed doc in its own arena (not the thread's shared one). */
  private def fromBytes(html: Array[Byte], opts: ParseOptions = ParseOptions.compat): VDoc = {
    val a = new Arena()
    Parser.parseIntoUtf8(a, html, opts).foreach(e => fail(s"parse: ${e.message}"))
    new VDoc(a)
  }

  private def same(got: String, want: String, what: => String): Unit =
    if (got != want) fail(s"${Esc(what)}:\n got  \"${Esc(got)}\"\n want \"${Esc(want)}\"")

  /** live nodes in document order (the root excluded). */
  private def live(a: Arena): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    def rec(n: Int): Unit = {
      var c = a.firstChild(n)
      while (c >= 0) { out += c; rec(c); c = a.nextSib(c) }
    }
    rec(0)
    out.toArray
  }

  /** every String entry equals the oracle: per node for every node the
    * arena holds (detached ones too), and per set for the Elems entries. */
  private def check(doc: VDoc, label: String): Unit = {
    val a = doc.arena
    same(a.sourceCode(), Oracle.sourceCode(a), s"$label: sourceCode")
    same(doc.sourceCode, Oracle.sourceCode(a), s"$label: VDoc.sourceCode")
    for (id <- 0 until a.n) {
      same(a.outerHtml(id), Oracle.outerHtml(a, id), s"$label: outerHtml($id)")
      same(a.innerHtml(id), Oracle.innerHtml(a, id), s"$label: innerHtml($id)")
      same(a.textChars(id), Oracle.textChars(a, id), s"$label: textChars($id)")
      val ub = new Utf8Builder(1) // grows from its smallest size
      a.textUtf8Exact(id, ub)
      val text = a.text(id)
      if (!java.util.Arrays.equals(ub.toBytes, text.getBytes(UTF_8)))
        fail(s"$label: textUtf8Exact($id) = ${Esc.bytes(ub.toBytes)}, text() = \"${Esc(text)}\"")
    }
    val nodes = live(a)
    val elems = nodes.filter(a.kind(_) == a.ELEM)
    val sets = Seq(Array.emptyIntArray, Array(0), nodes, elems, elems.reverse,
      elems.indices.filter(_ % 2 == 1).map(elems).toArray, (0 until a.n).toArray)
    for ((ids, k) <- sets.zipWithIndex) {
      val e = new Elems(doc, ids)
      val what = s"$label: set $k"
      same(e.html(), ids.headOption.map(Oracle.innerHtml(a, _)).getOrElse(""), s"$what html")
      same(e.htmls(), ids.map(Oracle.innerHtml(a, _)).mkString, s"$what htmls")
      same(e.outerHtml(), ids.headOption.map(Oracle.outerHtml(a, _)).getOrElse(""), s"$what outerHtml")
      same(e.outerHtmls(), ids.map(Oracle.outerHtml(a, _)).mkString, s"$what outerHtmls")
      same(e.textChars(), ids.map(Oracle.textChars(a, _)).mkString, s"$what textChars")
    }
  }

  // ================= fixtures =================

  /** the inputs MutationSpec and ContentSpec load */
  private val specFixtures = Seq(
    """<div class="parent"><div class="first-child"></div></div>""",
    """<div class="second-child"></div><div class="third-child"></div>""",
    "",
    """<div class="parent"><div class="third-child"></div></div>""",
    """<div class="first-child"></div><div class="second-child"></div>""",
    """<div id="content">This is a <strong>test</strong>!</div>""",
    """<div id="content"><img src="picture.jpg" /></div>""",
    "abc<span>def</span><!--ghi-->",
    "<title></title>",
    "ab<span></span>cd",
    """<div id="wrapper"><div id="inner"></div></div>""",
    "<svg></svg>",
    "<textarea><div>This is the content in textarea</div></textarea>",
    """
  <select>
    <optgroup>
      <option value="1">1</option>
      <option value="2" selected="selected">2</option>
      <option value="3">3</option>
    </optgroup>
  </select>
  """,
    """
  <select multiple>
    <optgroup>
      <option value="1">1</option>
      <option value="2" selected>2</option>
      <option value="3" selected>3</option>
    </optgroup>
  </select>
  """,
    """<div class="parent"></div>""",
    """<pre class="parent"></pre>""",
    """<div class="parent">This is a test!</div>""",
    "<div></div>",
    "<script>var a = 1;</script>",
    "<style></style>",
    "<div>abc<span>def</span>ghj</div>",
    "<div>abc<span>def</span>ghj</div><div>abc<span>def</span>ghj</div>",
    """<div id="text">abc<script>var a = 1;</script><svg xmlns="http://www.w3.org/2000/svg" version="1.1"><text x="0" y="15" fill="red" transform="rotate(30 20,40)">I love SVG</text></svg></div>""",
    """
    <div id="content">FIRST-ABC<div>SECOND-ABC<style>.a{{color:red}}</style>SECOND-DEF</div><script>var a = 1;</script>FIRST-DEF</div>
  """)

  /** the mutations the two specs run, applied in one sequence */
  private def mutateLikeSpecs(root: Elems): Unit = {
    root.find("div").eq(0).append(fromString("""<div class="added">é <b>x</b></div>""").rootElems)
    root.find("span").setText("a < b & \"c\" 好")
    root.find("textarea, title, script").setText("raw <b>é</b>")
    root.find("title, style").append(fromString("more é").rootElems)
    root.find("option").setAttr("selected", None)
    root.find("strong").replaceWith(fromString("<em>em 😀</em>").rootElems)
    root.find("pre").setHtml("<i>it</i> ok < no")
    root.find(".first-child").remove()
  }

  test("MutationSpec and ContentSpec fixtures render as before, loaded and mutated") {
    for ((html, i) <- specFixtures.zipWithIndex) {
      check(fromString(html), s"fixture $i")
      check(fromBytes(html.getBytes(UTF_8)), s"fixture $i (bytes)")
      val doc = fromString(html)
      mutateLikeSpecs(doc.rootElems)
      check(doc, s"fixture $i mutated")
      val bdoc = fromBytes(html.getBytes(UTF_8))
      mutateLikeSpecs(bdoc.rootElems)
      check(bdoc, s"fixture $i (bytes) mutated")
    }
  }

  private val multiBytePage =
    """<!DOCTYPE html><html lang="fr"><head><title>Tïtle 好 &amp; more</title>
      |<style>p > a { content: "é" }</style>
      |<script>if (a < b && c > d) { s = "<p>😀</p>" }</script></head>
      |<body><!-- commentaire é 好 --><![CDATA[ cdata <x> é ]]>
      |<p class="é 好" data-x='single "q" é' hidden data-u=unquotedé>caf&eacute; &amp; 好 &#x1F600; 😀 a < b > c</p>
      |<textarea>raw <b>é</b></textarea><br/><img src=x /><br />
      |<div><b>gras <i>italique</b> ß</i> fin</div>
      |</body></html>""".stripMargin

  test("multi-byte pages: entities, comments, CDATA, doctype, content tags, both parse paths") {
    for (opts <- Seq(ParseOptions.compat, ParseOptions.crawl)) {
      check(fromString(multiBytePage, opts), s"page ${opts.html5Tree}")
      check(fromBytes(multiBytePage.getBytes(UTF_8), opts), s"page bytes ${opts.html5Tree}")
    }
    // a well-formed U+FFFD in the page, beside the one a decoder writes
    val replacement = "<p title=\"\uFFFD\">a \uFFFD b<!--\uFFFD--><i>\uFFFD</i></p>"
    check(fromString(replacement), "literal U+FFFD")
    check(fromBytes(replacement.getBytes(UTF_8)), "literal U+FFFD bytes")
  }

  test("content tags with appended text children") {
    val doc = fromString("<head><title>T é</title><script>x < 1</script></head><textarea>a</textarea>")
    val root = doc.rootElems
    root.find("title").append(fromString(" plus 好").rootElems)
    root.find("script").append(fromString("; y > 2 😀").rootElems)
    root.find("textarea").append(fromBytes(bytes("b", 0xc3)).rootElems)
    root.find("textarea").append(fromBytes(bytes(0xa9, "c")).rootElems)
    check(doc, "content tags")
    same(root.find("textarea").html(), "ab\uFFFD\uFFFDc", "textarea html")
  }

  test("crawl mode: implied elements, stray close tags and formatting clones") {
    val pages = Seq(
      "<p>a é</body>b 好<li>x<li>y</html>tail",
      "<title>t</title><p>one<b>two<i>three</b>four</i> five</p></body></html>after",
      "texte seul é",
      "<html><head></head><body><p>x</p></body></html>",
      "<body/><p>é</p>")
    for ((p, i) <- pages.zipWithIndex) {
      check(fromString(p, ParseOptions.crawl), s"crawl $i")
      check(fromBytes(p.getBytes(UTF_8), ParseOptions.crawl), s"crawl bytes $i")
    }
    val mal = fromBytes(bytes("<p>a", 0xc3, "</body>", 0xa9, "b<b>x<i>", 0xe2, 0x82, "</b>y</i>"), ParseOptions.crawl)
    check(mal, "crawl malformed")
  }

  // ================= malformed UTF-8 =================

  private val malformed: Seq[(String, Array[Byte])] = Seq(
    "lone continuation" -> bytes("<p>a", 0x80, "b</p><p>", 0xbf, "</p>"),
    "truncated lead" -> bytes("<p>a", 0xe2, 0x82, "</p><p>", 0xf0, 0x9f, 0x98, "x</p>"),
    "truncated at end" -> bytes("<p>x", 0xf0, 0x9f),
    "overlong" -> bytes("<p>", 0xc0, 0xaf, " ", 0xe0, 0x80, 0xaf, " ", 0xf0, 0x80, 0x80, 0xaf, "</p>"),
    "encoded surrogate" -> bytes("<p>", 0xed, 0xa0, 0x80, 0xed, 0xb8, 0x80, "</p>"),
    "past U+10FFFF" -> bytes("<p>", 0xf4, 0x90, 0x80, 0x80, 0xff, 0xfe, "</p>"),
    "malformed name" -> bytes("<d", 0x80, "iv>x</d", 0x80, "iv><p", 0xc3, ">y</p", 0xc3, ">"),
    "malformed attribute" -> bytes("<p title=\"", 0xc3, "\" data-u=", 0xff, " data-k", 0xe2, "='", 0xa9, "'>z</p>"),
    "malformed markup nodes" -> bytes("<!--", 0xc3, "--><![CDATA[", 0xe2, 0x82, "]]><!DOCTYPE ", 0x80, ">"),
    "malformed content tags" -> bytes("<script>", 0xc3, "</script><title>", 0xa9, "</title><style>a", 0xe2, "</style>"),
    "split by markup" -> bytes("<p>a", 0xc3, "<!---->", 0xa9, "b</p><p>c", 0xc3, "<i>", 0xa9, "</i>d</p>"),
    "split by lt" -> bytes("<p>a", 0xc3, " < ", 0xa9, "b > ", 0xe2, "</p>"),
    "entities next to malformed" -> bytes("<p>", 0xc3, "&amp;", 0xa9, "&eacute;", 0x80, "</p>"),
    "U+FFFD literal" -> bytes("<p title=\"\uFFFD\">\uFFFD", 0x80, "\uFFFD</p>"),
    // output several times the buffer: `&lt;`/`&gt;` and U+FFFD expansion
    "growth" -> bytes(Seq[Any]("<p>", "<> " * 200, "\u0080" * 300, "</p><pre>") ++ Seq.fill(200)(0x80): _*))

  test("malformed UTF-8 from parseBytes renders each span as its own decode") {
    for ((name, html) <- malformed; opts <- Seq(ParseOptions.compat, ParseOptions.crawl)) {
      check(fromBytes(html, opts), s"$name ${opts.html5Tree}")
    }
  }

  test("a lead/continuation pair made adjacent by append or remove stays two U+FFFDs") {
    val doc = fromBytes(bytes("<p id=\"t\">a", 0xc3, "</p><div>c", 0xc3, "<b>x</b>", 0xa9, "d</div>"))
    val root = doc.rootElems
    root.find("#t").append(fromBytes(bytes(0xa9, "b")).rootElems)
    root.find("b").remove()
    check(doc, "adjacent")
    same(root.find("#t").html(), "a\uFFFD\uFFFDb", "appended")
    same(root.find("div").html(), "c\uFFFD\uFFFDd", "removed between")
    same(root.find("#t").text(), "a\uFFFD\uFFFDb", "appended text")
  }

  test("the decoder: a ++ b decodes as a and b apart when b starts on a non-continuation byte") {
    // lead bytes of every length, the bounds of each second-byte range,
    // bytes that never occur in UTF-8, ASCII
    val vals = Array(0x00, 0x41, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0, 0xc1, 0xc2, 0xdf, 0xe0, 0xe1,
      0xed, 0xee, 0xef, 0xf0, 0xf1, 0xf4, 0xf5, 0xff).map(_.toByte)
    def seqs(n: Int): Seq[Array[Byte]] =
      if (n == 0) Seq(Array.emptyByteArray) else for (p <- seqs(n - 1); v <- vals) yield p :+ v
    val as = (1 to 3).flatMap(seqs)
    val bs = (1 to 2).flatMap(seqs).filter(b => (b(0) & 0xc0) != 0x80)
    val bStrings = bs.map(new String(_, UTF_8))
    for (a <- as) {
      val alone = new String(a, UTF_8)
      var k = 0
      while (k < bs.length) {
        val joined = new String(a ++ bs(k), UTF_8)
        if (joined != alone + bStrings(k))
          fail(s"${Esc.bytes(a)} ++ ${Esc.bytes(bs(k))} decodes to \"${Esc(joined)}\", " +
            s"apart to \"${Esc(alone + bStrings(k))}\"")
        k += 1
      }
    }
  }

  // ================= mutated String docs =================

  test("String docs: setText with an unpaired surrogate, setAttr with both quote kinds") {
    val doc = fromString("""<div id="d"><p>é</p><script>s</script><a href="x">l</a><b k=v>b</b></div>""")
    val root = doc.rootElems
    root.find("p").setText("x\ud83dy \ude00 z")
    root.find("script").setText("raw \ud83d")
    root.find("a").setAttr("title", Some("it's \"q\" é"))
    root.find("a").setAttr("data-d", Some("say \"hi\" 好"))
    root.find("a").setAttr("data-s", Some("it's"))
    root.find("b").setAttr("k", Some("both ' and \" \ud83d"))
    root.find("b").setAttr("\ud83dkey", Some("v"))
    check(doc, "String mutations")
    same(root.find("p").text(), "x?y ? z", "unpaired surrogates stored as ?")
  }

  test("String docs: append and replaceWith of fragments copied from malformed byte-parsed docs") {
    val doc = fromString("""<div id="d"><ul><li>é</li></ul><span>x</span><p id="t">é</p></div>""")
    val root = doc.rootElems
    root.find("ul").append(fromBytes(bytes("<li title=\"", 0xc3, "\">a", 0xc3, "</li>")).rootElems)
    root.find("span").replaceWith(fromBytes(bytes("<em data-", 0x80, "=1>", 0xe2, 0x82, "</em>")).rootElems)
    root.find("#t").append(fromBytes(bytes("x", 0xc3)).rootElems)
    root.find("#t").append(fromBytes(bytes(0xa9, "y")).rootElems)
    check(doc, "String doc with malformed fragments")
    same(root.find("#t").html(), "éx\uFFFD\uFFFDy", "appended fragments")

    // replaceWith alone, with no append before it
    val doc2 = fromString("""<p><span>a</span><span>b</span></p>""")
    val spans = doc2.rootElems.find("span")
    spans.eq(0).replaceWith(fromBytes(bytes("x", 0xc3)).rootElems)
    spans.eq(1).replaceWith(fromBytes(bytes(0xa9, "y")).rootElems)
    check(doc2, "replaceWith adjacency")
    same(doc2.rootElems.find("p").html(), "x\uFFFD\uFFFDy", "replaced by fragments")
  }

  // ================= the parser cuts spans at ASCII bytes =================

  /** the first span of `a` that is not well-formed UTF-8, or None. */
  private def malformedSpan(a: Arena): Option[String] = {
    def bad(off: Int, len: Int, what: String): Option[String] =
      if (Utf8.wellFormed(a.buf, off, len)) None
      else Some(s"$what [$off, ${off + len}) = ${Esc.bytes(java.util.Arrays.copyOfRange(a.buf, off, off + len))}")
    val nodes = (0 until a.n).iterator.flatMap { id =>
      bad(a.nameOff(id), a.nameLen(id), s"name of $id") ++ bad(a.textOff(id), a.textLen(id), s"text of $id")
    }
    val attrs = (0 until a.an).iterator.flatMap { at =>
      bad(a.aKeyOff(at), a.aKeyLen(at), s"key of attr $at") ++
        (if (a.aValOff(at) >= 0) bad(a.aValOff(at), a.aValLen(at), s"value of attr $at") else None)
    }
    (nodes ++ attrs).nextOption()
  }

  test("property: every node and attribute span of a parsed String is well-formed UTF-8") {
    val piece = Gen.oneOf(
      "<", ">", "/", "=", "\"", "'", " ", "\n", "!", "-", "[", "]", "&", ";", "a", "p", "div", "x1",
      "é", "好", "😀", "ß", "\u0080", "\uFFFD", "\ud83d", "\ude00",
      "<div", "</div>", "<p ", "<p>", "</p>", "<script>", "</script>", "<title>", "</title>", "<textarea>",
      "<!--", "-->", "<![CDATA[", "]]>", "<!DOCTYPE html>", "&amp;", "&#x1F600;", "&eacute;",
      "<é", "<好>", "</é>", "<d好iv>", " é=", " 好='", " k=é", " k=好x", "=😀", " 😀", "<br/>",
      "<body>", "</body>", "</html>", "<li>", "<b><i>", "</b>", "<img src=x/>")
    val html = for {
      parts <- Gen.listOf(piece)
      cut <- Gen.choose(0, 400)
    } yield {
      // truncated input, cut at a code point boundary
      val s = parts.mkString
      s.substring(0, s.offsetByCodePoints(0, math.min(cut, s.codePointCount(0, s.length))))
    }
    val profiles = Seq(ParseOptions.compat, ParseOptions.crawl, ParseOptions.strict)
    var failure: String = null
    val prop = Prop.forAll(html) { h =>
      profiles.forall { opts =>
        val a = new Arena()
        Parser.parseInto(a, h, opts) // a strict parse may stop early: its spans count too
        malformedSpan(a) match {
          case None => true
          case Some(span) =>
            if (failure == null) failure = s"\"${Esc(h)}\" under $opts: $span"
            false
        }
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(3000)
      .withInitialSeed(org.scalacheck.rng.Seed(7919L)), prop)
    assert(res.passed, s"first failure: $failure")
  }
}
