package graft.spark

import graft.dom.{Arena, Entities}
import graft.html.ParseOptions
import graft.query.VDoc

import org.apache.spark.unsafe.types.UTF8String

/** Density-based main-content extraction — the selector-free DOM
  * heuristic (the boilerpipe / jusText family of public algorithms): the
  * page is segmented into text BLOCKS at block-level element boundaries,
  * each block scored by length and link density, and the content blocks
  * are concatenated. Complements the selector-recipe `extract_main`: the
  * recipe expresses site knowledge ("strip `nav`, take `main`"); density
  * needs none and survives pages whose boilerplate carries no usable
  * markup identity — which at crawl scale is most of them.
  *
  * Deterministic rules, pinned by DensitySpec + the q_density oracle:
  *  1. parse under the CRAWL profile (HTML5 implicit tree — real pages);
  *  2. prune boilerplate containers outright: `head` (and the rawtext
  *     elements `script`/`style`/`title`/`textarea`), `noscript`,
  *     `template`, `svg`, `iframe`, `form`, `select`, `button`, `option`,
  *     `nav`, `header`, `footer`, `aside`;
  *  3. a new block starts at every block-level element boundary (enter
  *     AND exit), so one block never spans two `<p>`s and inline markup
  *     (`<b>`, `<a>`, spans) never splits one;
  *  4. block text is entity-decoded with whitespace runs collapsed to a
  *     single space and ends trimmed; characters contributed from inside
  *     an `<a>` are the block's anchor chars;
  *  5. a block is CONTENT iff its collapsed length ≥ `minChars` (25)
  *     codepoints and its link density (anchor chars / length) ≤ 1/3 —
  *     the classic boilerpipe operating point;
  *  6. output = content blocks in document order, joined with `'\n'`.
  *     NULL on parse failure; a page with no content blocks yields "".
  *
  * Per-row scalar work bounded by the row's own size; no selector engine
  * in the loop — one DFS over the arena. */
object DensityExtract extends Serializable {

  private val Pruned: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("head", "script", "style", "title", "textarea", "noscript",
      "template", "svg", "iframe", "form", "select", "button", "option",
      "nav", "header", "footer", "aside").foreach(s.add)
    s
  }

  private val Blocks: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "body", "p", "div", "td", "th", "li", "dd", "dt", "dl",
      "ul", "ol", "table", "thead", "tbody", "tfoot", "tr", "blockquote",
      "pre", "article", "section", "main", "figure", "figcaption",
      "summary", "details", "address", "center", "fieldset", "hr",
      "h1", "h2", "h3", "h4", "h5", "h6").foreach(s.add)
    s
  }

  val MinChars: Int = 25
  val MaxLinkDensity: Double = 1.0 / 3

  private final class State {
    val out = new java.lang.StringBuilder(256)
    val block = new java.lang.StringBuilder(128)
    val tmp = new java.lang.StringBuilder(64)
    var anchorChars = 0
    var anchorDepth = 0
    var pendingSpace = false

    /** append a decoded text run with whitespace-run collapse. */
    def appendRun(s: java.lang.StringBuilder): Unit = {
      val before = block.length
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (Character.isWhitespace(c)) pendingSpace = true
        else {
          if (pendingSpace && block.length > 0) block.append(' ')
          pendingSpace = false
          block.append(c)
        }
        i += 1
      }
      if (anchorDepth > 0) anchorChars += block.length - before
    }

    def flush(): Unit = {
      if (block.length > 0) {
        val len = block.codePointCount(0, block.length)
        val density = anchorChars.toDouble / len
        if (len >= MinChars && density <= MaxLinkDensity) {
          if (out.length > 0) out.append('\n')
          out.append(block)
        }
      }
      block.setLength(0)
      anchorChars = 0
      pendingSpace = false
    }
  }

  private def walk(a: Arena, id: Int, st: State): Unit = {
    val k = a.kind(id)
    if (k == a.TEXT) {
      st.tmp.setLength(0)
      Entities.decodeTo(a.buf, a.textOff(id), a.textOff(id) + a.textLen(id), st.tmp)
      st.appendRun(st.tmp)
    } else if (k == a.CDATA) {
      st.tmp.setLength(0)
      st.tmp.append(a.str(a.textOff(id), a.textLen(id)))
      st.appendRun(st.tmp)
    } else if (k == a.SPACES) {
      st.pendingSpace = true
    } else if (k == a.ELEM) {
      val name = a.lowerName(id)
      if (!Pruned.contains(name)) {
        val isBlock = Blocks.contains(name)
        val isAnchor = name == "a"
        if (isBlock) st.flush()
        if (isAnchor) st.anchorDepth += 1
        // rawtext content tags that are NOT pruned have no child walk —
        // their text is the raw span (none in the block set matter here)
        var c = a.firstChild(id)
        while (c >= 0) { walk(a, c, st); c = a.nextSib(c) }
        if (isAnchor) st.anchorDepth -= 1
        if (isBlock) st.flush()
      }
    } else if (k == a.ROOT) {
      var c = a.firstChild(id)
      while (c >= 0) { walk(a, c, st); c = a.nextSib(c) }
    } // COMMENT / DOCTYPE / RAWSPAN: no text
  }

  def extract(doc: VDoc): String = {
    if (doc == null) return null
    val st = new State
    walk(doc.arena, 0, st)
    st.flush()
    st.out.toString
  }

  // -------------------------------------------------- codegen static entries

  def extractCodegenBinary(html: Array[Byte]): UTF8String = {
    if (html == null) return null
    try {
      val doc = Extractor.parseShared(html, ParseOptions.crawl)
      if (doc == null) return null
      UTF8String.fromString(extract(doc))
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null
    }
  }

  def extractCodegen(html: UTF8String): UTF8String =
    if (html == null) null else extractCodegenBinary(html.getBytes)
}
