package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.scalactic.Prettifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.Esc
import graft.dom.Arena
import graft.selector.{Selector, Simple}
import graft.spark.Extractor

/** Differential spec for the selector predicates that read UTF-8 spans:
  * `Engine.matchOne`, `find`, `filter`/`not`/`has` and the SQL
  * `extract_text`/`extract_count`/`extract_attrs` must agree with the
  * String predicates they replaced, kept below verbatim as the oracle —
  * on ASCII, multi-byte and emoji values, Unicode whitespace in class
  * lists, malformed UTF-8 (lone continuation, truncated lead, overlong,
  * encoded surrogate, a lead/continuation pair split across two text
  * nodes or two content tags), U+FFFD and unpaired-surrogate operands,
  * empty and boolean attributes, upper-case keys, and `*-of-type` over
  * mixed-case, non-ASCII and malformed tag names. */
class BytePredicateSpec extends AnyFunSuite with BeforeAndAfterAll {

  // operands, texts and selectors hold unpaired surrogates: failure
  // messages print them escaped (`graft.Esc`), the clues below and the
  // values `assert` quotes alike, so a failure is reported per test
  private implicit val escaped: Prettifier = new Prettifier {
    def apply(o: Any): String = Esc(Prettifier.default(o))
  }

  // ================= oracle: the String predicates =================

  private object Oracle {
    def spanEqIgnoreCase(a: Arena, off: Int, len: Int, lower: String): Boolean = {
      val lb = lower.getBytes(UTF_8)
      var ascii = true
      var k = 0
      while (ascii && k < lower.length) { if (lower.charAt(k) >= 0x80) ascii = false; k += 1 }
      val want: Array[Byte] = if (ascii) lower.map(_.toByte).toArray else lb
      len == want.length && (0 until len).forall { i =>
        val c = a.buf(off + i)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        lc == want(i)
      }
    }

    def classListContains(v: String, name: String): Boolean = {
      var i = 0
      val n = v.length
      while (i < n) {
        while (i < n && Character.isWhitespace(v.charAt(i))) i += 1
        var j = i
        while (j < n && !Character.isWhitespace(v.charAt(j))) j += 1
        if (j - i == name.length && v.regionMatches(i, name, 0, name.length)) return true
        i = j
      }
      false
    }

    def attr(a: Arena, e: Int, key: String, op: Char, value: String): Boolean = {
      if (a.kind(e) != a.ELEM) return false
      val attrIdx = a.findAttr(e, key)
      if (op == 0) return attrIdx >= 0
      val isBool = attrIdx >= 0 && a.aValOff(attrIdx) < 0
      val v: String =
        if (attrIdx < 0 || isBool) null
        else a.str(a.aValOff(attrIdx), a.aValLen(attrIdx))
      if (value.isEmpty && (op == '^' || op == '$' || op == '*' || op == '~')) return false
      op match {
        case '^' => v != null && v.startsWith(value)
        case '$' => v != null && v.endsWith(value)
        case '*' => v != null && v.contains(value)
        case '|' => if (v == null) value.isEmpty else v == value || v.startsWith(value + "-")
        case '~' => v != null && v.split(Array(' ', '\t', '\n', '\r', '\f')).exists(x => x.nonEmpty && x == value)
        case '!' => if (v == null) value.nonEmpty else v != value
        case '=' => if (v == null) value.isEmpty else v == value
        case _ => false
      }
    }

    def elementChildren(a: Arena, p: Int): Seq[Int] =
      Iterator.iterate(a.firstChild(p))(a.nextSib).takeWhile(_ >= 0).filter(a.kind(_) == a.ELEM).toSeq

    /** (of-type rank, element-children count) with HashMap-free name
      * compares on decoded lower-case names */
    def ofTypeRank(a: Arena, e: Int, last: Boolean): (Int, Int) = {
      val childs = elementChildren(a, a.parent(e))
      val order = if (last) childs.reverse else childs
      val my = a.lowerName(e)
      (order.takeWhile(_ != e).count(c => a.lowerName(c) == my), childs.length)
    }

    /** one simple selector; positional ones judged on the element's
      * siblings, as find/filter see them */
    def simple(a: Arena, e: Int, s: Simple): Boolean = s match {
      case Simple.All => true
      case Simple.Tag(t) => a.kind(e) == a.ELEM && spanEqIgnoreCase(a, a.nameOff(e), a.nameLen(e), t)
      case Simple.Cls(c) =>
        a.kind(e) == a.ELEM && { val v = a.attrValue(e, "class"); v != null && classListContains(v, c) }
      case Simple.Attr(k, op, v) => attr(a, e, k, op, v)
      case Simple.Contains(search) => search.isEmpty || a.text(e).contains(search)
      case Simple.Nth(true, last, hasN, n, idx) =>
        a.parent(e) >= 0 && {
          val (rank, total) = ofTypeRank(a, e, last)
          Engine.allowedIndexes(hasN, n, idx, total).contains(rank)
        }
      case Simple.OnlyOfType =>
        a.parent(e) >= 0 && {
          val my = a.lowerName(e)
          !elementChildren(a, a.parent(e)).exists(c => c != e && a.lowerName(c) == my)
        }
      case other => fail(Esc(s"no oracle for $other"))
    }

    def compound(a: Arena, e: Int, simples: List[Simple]): Boolean = simples.forall(simple(a, e, _))

    /** find() of comma groups of single descendant compounds: every
      * element below the root matching some group, in document order */
    def find(a: Arena, sel: Selector): Seq[Int] = {
      assert(sel.process.forall(p => p.shouldIn.isEmpty && p.query.length == 1))
      allElements(a).filter(e => sel.process.exists(p => compound(a, e, p.query.head.simples)))
    }
  }

  private def allElements(a: Arena): Seq[Int] = {
    val out = ArrayBuffer[Int]()
    def rec(n: Int): Unit = {
      var c = a.firstChild(n)
      while (c >= 0) { if (a.kind(c) == a.ELEM) { out += c; rec(c) }; c = a.nextSib(c) }
    }
    rec(0)
    out.toSeq
  }

  // ================= inputs =================

  private def bytes(parts: Any*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach {
      case s: String => out.write(s.getBytes(UTF_8))
      case b: Array[Byte] => out.write(b)
      case i: Int => out.write(i)
    }
    out.toByteArray
  }

  private val textDoc = bytes(
    "<div class=\"a b  c\" id=\"d1\" lang=\"en-UK\" title=\"héllo wörld\" data-x=\"日本語テキスト\" ",
    "data-e=\"😀 smile\" rel=\"ugc nofollow\" data-list=\"one\ttwo\nthree\u000bfour\">",
    "<p class=\"é ü\">café 😀 text &amp; more</p><P CLASS=\"A\" Data-Key=\"VaL\">UPPER</P>",
    "<span data-empty=\"\" checked hidden lang=\"en\">x &#x1F600; &eacute;</span>",
    "<a href=\"https://x.example/\" rel=\"nofollow\">ok</a><a href=\"http://y\" rel=\"ugc\">no</a>",
    "<![CDATA[cd 😀]]><script>var s = \"日本\";</script></div>")

  private val classDoc = bytes(
    "<ul><i class=\"a\u00a0b\">1</i><i class=\"x\u3000y z\">2</i><i class=\"p\u0085q\">3</i>",
    "<i class=\"e\u2003f\">4</i><i class=\"m\u000bn\">5</i><i class=\"s\u001ct u\">6</i>",
    "<i class=\"g\u2028h\" data-w=\"x\u3000y z\">7</i><i class=\"\u00a0v\u00a0\" data-w=\"m\u000bn\">8</i>",
    "<i class=\"日本 語\">9</i></ul>")

  private val malformedDoc = bytes(
    "<div id=\"mal\">",
    "<b class=\"k", 0x80, " kk\" data-v=\"v", 0x80, "w\" title=\"", 0x80, "\">t", 0x80, "u</b>",
    "<b class=\"z\" data-v=\"ab", 0xe6, 0x97, "\">q", 0xe6, 0x97, "</b>",
    "<b class=\"o", 0xc1, 0x81, " oo\" data-v=\"", 0xc0, 0xaf, "/\">x", 0xe0, 0x80, 0xaf, "y</b>",
    "<b data-v=\"", 0xed, 0xa0, 0x80, "s\">s", 0xed, 0xa0, 0x80, "</b>",
    "<p id=\"split1\">a", 0xc3, "<!---->", 0xa9, "b</p>",
    "<p id=\"split2\">c", 0xc3, "<i>", 0xa9, "</i>d</p>",
    "<p id=\"ent\">", 0xc3, "&amp;", 0xa9, "</p>",
    "<p id=\"tags\"><script>", 0xc3, "</script><style>", 0xa9, "</style></p>",
    "<em data-r=\"\uFFFD\" class=\"\uFFFD\">\uFFFD lit</em>",
    "<em data-r=\"", 0x80, "\" class=\"", 0x80, "\">", 0xff, " lit</em>",
    "<em data-r=\"é\">é ok</em></div>")

  private val typesDoc = bytes(
    "<section id=\"t\"><Span>1</Span><span>2</span><SPAN>3</SPAN><b>4</b><span>5</span><B>6</B>",
    "<i>7</i><x1>8</x1><x2>9</x2><x3>10</x3><x4>11</x4><x5>12</x5><x6>13</x6><x7>14</x7></section>",
    "<section id=\"w\">",
    (0 until 120).map(i => s"<${Seq("p", "P", "q", "Q", "r", "s", "t")(i % 7)}>$i</${Seq("p", "P", "q", "Q", "r", "s", "t")(i % 7)}>").mkString,
    "</section><div><em>only</em><b>x</b><b>y</b></div>")

  /** non-ASCII and malformed tag names: the parser reads ASCII names only,
    * so these are written into the arena after the parse */
  private val renames: Seq[(String, Array[Byte])] = Seq(
    "x1" -> bytes("é"), "x2" -> bytes("É"), "x3" -> bytes("é"),
    "x4" -> bytes("x", 0x80), "x5" -> bytes("x\uFFFD"), "x6" -> bytes("X", 0x81), "x7" -> bytes("Xé"))

  private def rename(a: Arena): Unit = allElements(a).foreach { e =>
    renames.find(r => a.lowerName(e) == r._1).foreach { case (_, name) =>
      a.nameOff(e) = a.appendRaw(name, 0, name.length)
      a.nameLen(e) = name.length
    }
  }

  private val textSels = Seq(
    "div.a", ".b", ".c", ".ab", "p.A", "P", "p.é", ".ü", "p.é.ü", "[lang|=en]", "[lang^=en]",
    "[lang$=UK]", "[lang*=n-U]", "[lang~=en]", "[lang!=en]", "[lang=en-UK]", "[title*=ö]",
    "[title^=hé]", "[title$=wörld]", "[title~=wörld]", "[data-x*=語テ]", "[data-x=日本語テキスト]",
    "[data-e^=😀]", "[data-e~=smile]", "[data-e|=😀]", "[data-e$=😀]", "[DATA-KEY=VaL]",
    "[data-key=val]", "[data-key|=VaL]", "[data-empty]", "[data-empty='']", "[data-empty!='']",
    "[data-empty|='']", "[data-empty^='']", "[checked]", "[checked='']", "[checked!=x]",
    "[hidden|='']", "[checked~='']", "[checked^=a]", "[data-list~=two]", "[data-list~=three]",
    "[data-list~=four]", "[rel~=nofollow][href^=\"https://\"]", ":contains(café)",
    ":contains('😀 text & more')", "p:contains(&amp;)", ":contains(ö)", ":contains('')",
    "span:contains(😀)", "span:contains(é)", "div:contains('cd 😀')", "div:contains(日本)",
    ":contains(UPPER)", "[data-e^=\uFFFD]", ":contains(\uFFFD)", ".\uFFFD", "p, span, a[rel=ugc]")

  private val classSels = Seq(
    ".a", ".b", ".a\u00a0b", ".x", ".y", ".z", ".p", ".q", ".p\u0085q", ".e", ".f", ".m", ".n",
    ".s", ".t", ".u", ".g", ".h", ".v", ".\u00a0v\u00a0", ".日本", ".語", "[data-w~=x]",
    "[data-w~=z]", "[data-w~=m]", "[data-w~=y]", "i.y, i.n")

  private val malformedSels = Seq(
    "b[data-v^=v]", "[data-v*=w]", "[data-v$=w]", "[data-v=v\uFFFDw]", "[data-v='\uFFFD/']",
    "[data-v$='/']", "[data-v~=v\uFFFDw]", "[data-v^=ab]", "[data-v*=\uFFFD]", "[data-v|=ab]",
    "[data-v!=s]", "[data-r=\uFFFD]", "[data-r=é]", "[data-r!=é]", ".\uFFFD", ".k", ".kk",
    ".oo", ".z", "[title=\uFFFD]", "[title]", ":contains(é)", "p:contains(aéb)",
    "p:contains(cé)", "p:contains(\uFFFD)", ":contains(t\uFFFDu)", ":contains(u)", ":contains(q)",
    "em:contains(lit)", "p:contains(&)", "p:contains(\uFFFD&\uFFFD)", "em:contains('é ok')",
    "b:contains(y)", "b:contains(s)")

  private val typeSels = Seq(
    ":nth-of-type(1)", ":nth-of-type(2)", ":nth-of-type(2n+1)", ":nth-last-of-type(1)",
    ":nth-last-of-type(2)", ":only-of-type", "span:nth-of-type(2)", ":first-of-type",
    ":last-of-type", ":nth-of-type(-n+2)", "span:only-of-type", ":nth-of-type(odd)",
    ":nth-last-of-type(3n)", "q:nth-of-type(4)", "é", "É", "SPAN", "x\uFFFD", "xé",
    "é:nth-of-type(2)", "b:nth-last-of-type(2)")

  /** operands with an unpaired surrogate: API only (SQL strings cannot
    * carry them) */
  private val surrogateSels = Seq("[data-e^=\ud83d]", ":contains(\ud83d)", "[data-e*=\ude00]", "p:contains('\ude00 text')")

  private val docs: Seq[(String, Array[Byte], Seq[String])] = Seq(
    ("text", textDoc, textSels ++ surrogateSels),
    ("classes", classDoc, classSels),
    ("malformed", malformedDoc, malformedSels),
    ("types", typesDoc, typeSels))

  /** parse through the thread arena, as the SQL entries do */
  private def load(name: String, html: Array[Byte], renamed: Boolean = true): VDoc = {
    val doc = Extractor.parseBytes(html)
    assert(doc != null, Esc(s"$name does not parse"))
    if (renamed && name == "types") rename(doc.arena)
    doc
  }

  private def parseSel(s: String): Selector = Selector.parse(s).fold(e => fail(Esc(s"$s: $e")), identity)

  // ================= API differential =================

  test("matchOne equals the String predicates on every element") {
    docs.foreach { case (name, html, sels) =>
      val doc = load(name, html)
      val a = doc.arena
      val elems = allElements(a)
      sels.foreach { s =>
        for (p <- parseSel(s).process; simple <- p.query.head.simples if !Engine.isPositional(simple))
          elems.foreach { e =>
            assert(Engine.matchOne(doc, e, simple) == Oracle.simple(a, e, simple),
              Esc(s"$name: matchOne($simple) on <${a.lowerName(e)}> #$e"))
          }
      }
    }
  }

  test("find, filter, not and has equal the String predicates") {
    docs.foreach { case (name, html, sels) =>
      val doc = load(name, html)
      val a = doc.arena
      val root = doc.rootElems
      val all = new Elems(doc, allElements(a).toArray)
      sels.foreach { s =>
        val sel = parseSel(s)
        val want = Oracle.find(a, sel)
        assert(root.find(s).ids.toSeq == want, Esc(s"$name: find($s)"))
        assert(all.filter(s).ids.toSeq == want, Esc(s"$name: filter($s)"))
        assert(all.not(s).ids.toSeq == all.ids.toSeq.filterNot(want.toSet), Esc(s"$name: not($s)"))
        val hasWant = all.ids.toSeq.filter(e => want.exists(x => a.isAncestor(e, x)))
        assert(all.has(s).ids.toSeq == hasWant, Esc(s"$name: has($s)"))
      }
    }
  }

  test("the planted cases decide as the String predicates do") {
    // pins that the differential inputs reach the cases that need the
    // String path: the same answers hold for the oracle by construction
    def count(name: String, s: String): Int = {
      val doc = load(name, docs.find(_._1 == name).get._2)
      doc.rootElems.find(s).length
    }
    assert(count("classes", ".x") == 1) // U+3000 separates class tokens
    assert(count("classes", ".a") == 0) // U+00A0 does not
    assert(count("classes", ".p") == 0) // nor does U+0085
    assert(count("malformed", ":contains(é)") == 2) // the div and the last em, no split pair
    assert(count("malformed", "[data-v=v\uFFFDw]") == 1)
    assert(count("malformed", "[data-r=\uFFFD]") == 2)
    assert(count("text", "[data-e^=\ud83d]") == 1) // half of a surrogate pair
    assert(count("types", "x\uFFFD:nth-of-type(2)") == 1) // x\x80, x\uFFFD, X\x81 share a type
    assert(count("types", "é:nth-of-type(2)") == 1)
  }

  // ================= SQL differential =================

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-byte-predicate-test")
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

  private val sqlAttr = Map("text" -> "lang", "classes" -> "class", "malformed" -> "data-v", "types" -> "id")

  /** rows of (doc, selector) with the oracle's count, text and attrs */
  private lazy val expected: Seq[(Int, String, Array[Byte], String, String, Long, String, Seq[String])] = {
    var id = 0
    // the SQL path parses the page itself: tag names stay as written
    for ((name, html, sels) <- docs; s <- sels if !surrogateSels.contains(s)) yield {
      val doc = load(name, html, renamed = false)
      val a = doc.arena
      val found = Oracle.find(a, parseSel(s))
      val attrs = found.flatMap(e => new Elems(doc, Array(e)).attr(sqlAttr(name)).map(_.value))
      id += 1
      (id, name, html, s, sqlAttr(name), found.length.toLong, new Elems(doc, found.toArray).text(), attrs)
    }
  }

  private def assertSql(): Unit = {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("html", BinaryType),
      StructField("sel", StringType), StructField("attr", StringType)))
    val rows = expected.map(r => Row(r._1, r._3, r._4, r._5))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .selectExpr("id", "html", "CAST(html AS STRING) AS html_s", "sel", "attr")
    for (col <- Seq("html", "html_s")) {
      val got = df.selectExpr("id", s"extract_count($col, sel)", s"extract_text($col, sel)",
        s"extract_attrs($col, sel, attr)").collect().map(r => r.getInt(0) -> r).toMap
      expected.foreach { case (id, name, _, s, _, cnt, text, attrs) =>
        val r = got(id)
        assert(r.getLong(1) == cnt, Esc(s"$col $name: extract_count($s)"))
        assert(r.getString(2) == text, Esc(s"$col $name: extract_text($s)"))
        assert(r.getSeq[String](3).toSeq == attrs, Esc(s"$col $name: extract_attrs($s)"))
      }
    }
  }

  test("SQL extract_count, extract_text and extract_attrs equal the oracle (whole-stage codegen)") {
    withConf("spark.sql.codegen.wholeStage" -> "true")(assertSql())
  }

  test("SQL extract_count, extract_text and extract_attrs equal the oracle (interpreted)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertSql())
  }
}
