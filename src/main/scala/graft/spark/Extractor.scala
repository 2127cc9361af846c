package graft.spark

import graft.dom.Arena
import graft.html.{ParseOptions, Parser}
import graft.query.{Elems, Engine, VDoc}
import graft.selector.Selector
import java.util.concurrent.ConcurrentHashMap

/** Per-row extraction entry point for Spark executors.
  *
  * Design for scale (north rule): one reusable [[Arena]] per executor thread
  * — parsing a page touches only pre-grown primitive arrays, so a long
  * `mapPartitions` loop allocates close to nothing per row and GC pressure
  * stays flat at 10^12-document scale. Selectors are parsed once per JVM and
  * cached (the reference parses per query too — `mesdoc::init` + lazy_static
  * caches, reference `src/mesdoc/selector/rule.rs:10-12`).
  *
  * A page parses once per row across the read-only `extract_*` entries
  * (text, count, attrs, html, links, anchors, canonical, refresh, and
  * [[MetaOps]] / [[DensityExtract]]): they share the thread's last clean
  * parse of the same bytes ([[parseShared]]). The public parse entries
  * ([[parse]], [[parseCrawl]], [[parseBytes]], [[parseBytesCrawl]]) hand
  * out the thread's live arena instead: the [[VDoc]] is valid only until
  * this thread's next parse, the caller may mutate it, and it is never a
  * memoized doc — each of them forgets the memo before parsing, as does
  * `extract_main` (its strip walk removes nodes), so no doc that a caller
  * may have mutated is ever reused.
  */
object Extractor extends Serializable {

  /** selector-driven boilerplate-strip recipe (north star: "nav/ads/script/
    * style removal, main-content DOM heuristics"). */
  final case class Recipe(
      remove: String = Recipe.DefaultRemove,
      mainCandidates: Seq[String] = Recipe.DefaultMain)

  object Recipe {
    val DefaultRemove = "script,style,nav,aside,header,footer,[hidden]"
    val DefaultMain: Seq[String] = Seq("main", "[role='main']", "#content", "body")
    val default: Recipe = Recipe()
  }

  private val arenas = new ThreadLocal[Arena] {
    override def initialValue(): Arena = new Arena(1024)
  }

  private val selectorCache = new ConcurrentHashMap[String, Either[String, Selector]]()
  // extract_text's selector operand is an arbitrary expression: a per-row
  // dynamic selector must not grow executor memory without bound
  private final val SelectorCacheCap = 4096

  def compiled(sel: String): Either[String, Selector] = {
    val hit = selectorCache.get(sel)
    if (hit != null) return hit
    val parsed = Selector.parse(sel, useLookup = true)
    if (selectorCache.size < SelectorCacheCap) selectorCache.putIfAbsent(sel, parsed)
    parsed
  }

  /** a rare giant page must not pin executor memory forever: drop the
    * thread-local arena back to a fresh one when its buffers grew far beyond
    * what the current row needs. */
  private final val ArenaShrinkChars = 32 << 20

  private def threadArena(srcLen: Int): Arena = {
    val arena = arenas.get()
    if (arena.buf.length > ArenaShrinkChars && srcLen < (ArenaShrinkChars >> 3)) {
      val fresh = new Arena(1024)
      arenas.set(fresh)
      fresh
    } else arena
  }

  /** parse into the thread-local arena; null on parse failure. */
  def parse(html: String): VDoc = parseStringWith(html, ParseOptions.compat)

  /** [[parse]] under the CRAWL profile (compat fixes + HTML5 implicit
    * tree): implied html/head/body + auto-close, for real crawl pages
    * that never wrote `<body>`. */
  def parseCrawl(html: String): VDoc = parseStringWith(html, ParseOptions.crawl)

  private def parseStringWith(html: String, opts: ParseOptions): VDoc = {
    forgetShared()
    val arena = threadArena(html.length)
    Parser.parseInto(arena, html, opts) match {
      case Some(_) => null
      case None => new VDoc(arena)
    }
  }

  /** parse UTF-8 bytes into the thread-local arena (no intermediate String /
    * char[] garbage); null on parse failure. */
  def parseBytes(html: Array[Byte]): VDoc = {
    forgetShared()
    parseBytesWith(html, ParseOptions.compat)
  }

  /** [[parseBytes]] under the CRAWL profile — see [[parseCrawl]]. */
  def parseBytesCrawl(html: Array[Byte]): VDoc = {
    forgetShared()
    parseBytesWith(html, ParseOptions.crawl)
  }

  private def parseBytesWith(html: Array[Byte], opts: ParseOptions): VDoc = {
    val arena = threadArena(html.length)
    Parser.parseIntoUtf8(arena, html, opts) match {
      case Some(_) => null
      case None => new VDoc(arena)
    }
  }

  /** The thread's last clean parse, kept for the read-only entries. The
    * source bytes are not stored: `resetFromUtf8` copied them to
    * `doc.arena.buf[0, len)` and the parser only appends past them, so the
    * arena's own copy is the key. Content is compared, never array
    * identity, because Spark reuses row buffers. `doc == null` means
    * nothing is memoized. */
  private final class ParseMemo {
    var doc: VDoc = null
    var opts: ParseOptions = null
    var len: Int = 0
  }

  private val memos = new ThreadLocal[ParseMemo] {
    override def initialValue(): ParseMemo = new ParseMemo
  }

  private def forgetShared(): Unit = memos.get().doc = null

  /** Parse for entries that only read the doc: when the thread's last
    * clean parse was of the same bytes under the same profile, and the
    * thread's arena is still the arena holding it, return that same
    * [[VDoc]] instead of parsing again. So the read-only `extract_*`
    * calls of one row parse the page once. Null on parse failure (never
    * memoized). Callers must not mutate the result. */
  private[spark] def parseShared(html: Array[Byte],
      opts: ParseOptions = ParseOptions.compat): VDoc = {
    val m = memos.get()
    val hit = m.doc
    if (hit != null && (m.opts eq opts) && m.len == html.length &&
      (hit.arena eq arenas.get()) &&
      java.util.Arrays.equals(hit.arena.buf, 0, html.length, html, 0, html.length))
      return hit
    m.doc = null // a parse that throws leaves nothing memoized
    val doc = parseBytesWith(html, opts)
    if (doc != null) {
      m.doc = doc
      m.opts = opts
      m.len = html.length
    }
    doc
  }

  /** node-local simples (tag/class/id/attr): match is independent of the
    * rest of the tree, so it can be evaluated mid-walk regardless of
    * pending removals. */
  private def nodeLocal(s: graft.selector.Simple): Boolean = s match {
    case graft.selector.Simple.All => true
    case _: graft.selector.Simple.Tag => true
    case _: graft.selector.Simple.Cls => true
    case _: graft.selector.Simple.Id => true
    case _: graft.selector.Simple.Attr => true
    case _ => false
  }

  /** simple single-compound descendant predicates of the candidate
    * selectors (node-local only — they are evaluated during the fused
    * strip walk, before removal executes), or null if any candidate needs
    * the general engine. */
  private def candidateCompounds(recipe: Recipe): Array[Array[graft.selector.Simple]] = {
    val out = new Array[Array[graft.selector.Simple]](recipe.mainCandidates.length)
    var i = 0
    recipe.mainCandidates.foreach { s =>
      compiled(s) match {
        case Right(sel) if sel.process.lengthCompare(1) == 0 &&
          sel.process.head.shouldIn.isEmpty &&
          sel.process.head.query.lengthCompare(1) == 0 &&
          sel.process.head.query.head.comb == graft.selector.Combinator.ChildrenAll &&
          sel.process.head.query.head.simples.forall(nodeLocal) =>
          out(i) = sel.process.head.query.head.simples.toArray
        case _ => return null
      }
      i += 1
    }
    out
  }

  private def stripCompounds(recipe: Recipe): Array[Array[graft.selector.Simple]] =
    compiledCompounds(recipe.remove) // per-JVM cached (hot path: per row)

  /** per-Recipe cache of (strip, candidate) fused-walk compounds:
    * selectMain runs per ROW, and re-deriving the compound arrays there
    * allocated per-row garbage for a value that is constant per recipe.
    * The sentinel pairs a null slot for "needs the general engine". */
  private val recipeCache =
    new ConcurrentHashMap[Recipe, (Array[Array[graft.selector.Simple]], Array[Array[graft.selector.Simple]])]()

  private def recipeCompounds(recipe: Recipe): (Array[Array[graft.selector.Simple]], Array[Array[graft.selector.Simple]]) = {
    val hit = recipeCache.get(recipe)
    if (hit != null) return hit
    val computed = (stripCompounds(recipe), candidateCompounds(recipe))
    if (recipeCache.size < SelectorCacheCap) recipeCache.putIfAbsent(recipe, computed)
    computed
  }

  /** cached fused-walk compounds per selector string: a selector's comma
    * groups as flat compounds when every group is a single-segment
    * descendant predicate of non-positional simples
    * (`Engine.descendantCompounds`), matched in one document-order pass
    * ([[Engine.forEachMatch]]) instead of the general engine. Null entries
    * mean "needs the general engine"; same cap discipline as the selector
    * cache. */
  private val compoundCache =
    new ConcurrentHashMap[String, Array[Array[graft.selector.Simple]]]()
  private val NoCompounds = new Array[Array[graft.selector.Simple]](0)

  private def compiledCompounds(selStr: String): Array[Array[graft.selector.Simple]] = {
    val hit = compoundCache.get(selStr)
    if (hit != null) return if (hit.length == 0) null else hit
    val computed = compiled(selStr) match {
      case Right(sel) => Engine.descendantCompounds(sel)
      case _ => null
    }
    if (compoundCache.size < SelectorCacheCap)
      compoundCache.putIfAbsent(selStr, if (computed == null) NoCompounds else computed)
    computed
  }

  /** pick the recipe's main-content element set after boilerplate removal;
    * selectors come from the per-JVM parse cache.
    *
    * Fast path (the default recipe shape): ONE fused tree pass does both
    * the strip match and the candidate match — a strip-matched element is
    * recorded for removal and its subtree is NOT entered (removing the
    * root detaches everything below, and candidates must not come from
    * stripped subtrees), which skips the bulk of a boilerplate-heavy page.
    * Candidate simples are node-local (tag/class/id/attr), so evaluating
    * them before the batched removal is indistinguishable from
    * remove-then-find. Falls back to the general engine otherwise. */
  private def selectMain(doc: VDoc, recipe: Recipe): Elems = {
    val root = doc.rootElems
    val (strip, cands) = recipeCompounds(recipe)
    if (strip != null && cands != null) {
      val a = doc.arena
      val firstMatch = Array.fill(cands.length)(-1)
      val toRemove = new scala.collection.mutable.ArrayBuffer[Int](8)
      def rec(node: Int): Unit = {
        var c = a.firstChild(node)
        while (c >= 0) {
          if (a.kind(c) == a.ELEM) {
            if (Engine.matchesAnyCompound(doc, c, strip)) toRemove += c
            else {
              var i = 0
              while (i < cands.length) {
                if (firstMatch(i) < 0 && Engine.matchesCompound(doc, c, cands(i))) firstMatch(i) = c
                i += 1
              }
              if (a.firstChild(c) >= 0) rec(c)
            }
          }
          c = a.nextSib(c)
        }
      }
      rec(0)
      if (toRemove.nonEmpty) new Elems(doc, toRemove.toArray).remove()
      var i = 0
      while (i < firstMatch.length) {
        if (firstMatch(i) >= 0) return new Elems(doc, Array(firstMatch(i)))
        i += 1
      }
      return root
    }
    root.find(recipe.remove).remove()
    var main: Elems = null
    val it = recipe.mainCandidates.iterator
    while (main == null && it.hasNext) {
      val found = root.find(it.next())
      if (found.nonEmpty) main = found.first()
    }
    if (main == null) root else main
  }

  private def extractMainFrom(doc: VDoc, recipe: Recipe): String = {
    if (doc == null) return null
    selectMain(doc, recipe).text()
  }

  /** main-content extraction: remove boilerplate, pick the first matching
    * main-content candidate, return its text(). Null on parse failure. */
  def extractMain(html: String, recipe: Recipe): String =
    extractMainFrom(parse(html), recipe)

  def extractMain(htmlBytes: Array[Byte], recipe: Recipe): String =
    if (htmlBytes == null) null
    else extractMainFrom(parseBytes(htmlBytes), recipe)

  /** generic `extract_text(html, selector)` — text() of all matches. */
  def extractText(html: String, selector: String): String = {
    val doc = parse(html)
    if (doc == null) return null
    compiled(selector) match {
      case Left(_) => null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
        val sb = new java.lang.StringBuilder(64)
        found.foreach(e => doc.arena.textContent(e, sb))
        sb.toString
    }
  }

  /** `extract_text` static entry, called from generated code.
    * Defensive like every BINARY entry: ANY per-row failure yields null —
    * the same bytes must have the same fate whether the column is STRING
    * or BINARY. */
  def extractTextCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      selector: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (html == null) null else extractTextCodegenBinary(html.getBytes, selector)

  private val utf8Out = new ThreadLocal[graft.dom.Utf8Builder] {
    override def initialValue(): graft.dom.Utf8Builder = new graft.dom.Utf8Builder()
  }

  /** the output slab gets the same pin-guard as the arena: one rare giant
    * extracted text must not hold executor memory for the thread's
    * lifetime. */
  private def outBuilder(): graft.dom.Utf8Builder = {
    val b = utf8Out.get()
    if (b.buf.length > ArenaShrinkChars) {
      val fresh = new graft.dom.Utf8Builder()
      utf8Out.set(fresh)
      fresh
    } else b
  }

  /** The one guarded main-content entry: parse (compat or crawl profile),
    * strip the recipe's boilerplate, pick its main candidate, and hand
    * both to `emit`. Defensive: ANY per-row failure (parse error,
    * pathological input) yields null — a lineage `failure_count`
    * increment, never a task failure. */
  private def guardedMain[T >: Null](html: Array[Byte], recipe: Recipe, crawl: Boolean,
      emit: (VDoc, Elems) => T): T = {
    if (html == null) return null
    try {
      val doc = if (crawl) parseBytesCrawl(html) else parseBytes(html)
      if (doc == null) null else emit(doc, selectMain(doc, recipe))
    } catch {
      case scala.util.control.NonFatal(_) => null
      // belt over the parser's maxDepth=2048 cap: should a recursive walk
      // ever overflow the task stack anyway, the row degrades to null
      // after full unwind instead of failing the task (NonFatal does not
      // match StackOverflowError)
      case _: StackOverflowError => null
    }
  }

  // the output forms, as values: no per-row closure allocation
  private val mainText: (VDoc, Elems) => String = (_, main) => main.text()
  private val mainBytes: (VDoc, Elems) => Array[Byte] = (doc, main) => {
    val ub = outBuilder()
    ub.reset()
    val ids = main.ids
    var i = 0
    while (i < ids.length) { doc.arena.textUtf8Exact(ids(i), ub); i += 1 }
    ub.toBytes
  }
  private val mainUtf8: (VDoc, Elems) => org.apache.spark.unsafe.types.UTF8String =
    (doc, main) => org.apache.spark.unsafe.types.UTF8String.fromBytes(mainBytes(doc, main))

  /** [[extractMain]] behind the same row guard as [[extractMainCodegen]]:
    * null on ANY per-row failure, a stack overflow included. The row path
    * of [[ExtractJob]] with `clean = true`. */
  def extractMainOrNull(html: Array[Byte], recipe: Recipe): String =
    guardedMain(html, recipe, crawl = false, mainText)

  /** [[extractMainOrNull]] as the UTF-8 of its String, built straight from
    * the arena's bytes as `extract_main` builds them: the row path of
    * [[ExtractJob]]. */
  def extractMainUtf8OrNull(html: Array[Byte], recipe: Recipe): Array[Byte] =
    guardedMain(html, recipe, crawl = false, mainBytes)

  /** hot path: bytes in, UTF-8 bytes out — no UTF-16 String round trip. */
  def extractMainCodegen(html: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    guardedMain(html, Recipe.default, crawl = false, mainUtf8)

  /** STRING entries delegate to the byte-native paths via the UTF8String's
    * underlying UTF-8 bytes: no UTF-16 round trip of the page, and STRING
    * and BINARY columns give the same bytes the same fate by construction
    * (the round-4 interpreted-vs-codegen unification, now structural). */
  def extractMainCodegenStr(html: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (html == null) null else extractMainCodegen(html.getBytes)

  /** `extract_main_crawl` static entries: the SAME boilerplate-strip
    * recipe over the CRAWL parse profile — on fragment pages the implied
    * `body` gives the recipe's `body` candidate something to match, so
    * extraction returns main content instead of falling back to the whole
    * root (titles and all). Defensive null-on-failure like every entry. */
  def extractMainCrawlCodegen(html: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    guardedMain(html, Recipe.default, crawl = true, mainUtf8)

  def extractMainCrawlCodegenStr(html: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (html == null) null else extractMainCrawlCodegen(html.getBytes)

  /** byte-native hot path for BINARY input: UTF-8 in (parseBytes), UTF-8 out
    * (Utf8Builder) — no UTF-16 String round trip of the page, same as
    * extract_main's path. The bytes are those of `Elems.text()`: a match
    * with a run malformed on its own takes its decoded text re-encoded, so
    * a STRING result never carries malformed UTF-8. */
  def extractTextCodegenBinary(html: Array[Byte],
      selector: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    if (html == null || selector == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val selStr = selector.toString
      val compounds = compiledCompounds(selStr)
      val ub = outBuilder()
      ub.reset()
      if (compounds != null) {
        val a = doc.arena
        Engine.forEachMatch(doc, compounds, 0, c => a.textUtf8Exact(c, ub))
      } else compiled(selStr) match {
        case Left(_) => return null
        case Right(sel) =>
          import scala.collection.mutable.ArrayBuffer
          val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
          found.foreach(e => doc.arena.textUtf8Exact(e, ub))
      }
      org.apache.spark.unsafe.types.UTF8String.fromBytes(ub.toBytes)
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** outerHtml() of every selector match in document order (the reference
    * flow find(sel) + outer_html, reference elements.rs render path), each
    * rendered as UTF-8 straight into its UTF8String. */
  private def extractOuterHtmlFrom(doc: VDoc, selector: String): org.apache.spark.sql.catalyst.util.ArrayData =
    compiled(selector) match {
      case Left(_) => null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
        val ub = outBuilder()
        val out = new Array[Any](found.length)
        var i = 0
        while (i < found.length) {
          ub.reset()
          doc.arena.renderNode(found(i), ub, encodeContent = true, checked = true)
          out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(ub.toBytes)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

  def extractOuterHtmlCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      sel: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    if (html == null) null else extractOuterHtmlCodegenBinary(html.getBytes, sel)

  /** byte-native BINARY path (parseBytes; only the matched snippets
    * materialize as Strings). */
  def extractOuterHtmlCodegenBinary(html: Array[Byte],
      sel: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (html == null || sel == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      extractOuterHtmlFrom(doc, sel.toString)
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** `attr(name)` of every selector match, in document order (the reference
    * flow `find(sel)` + per-element `attr`, reference elements.rs:3191);
    * null on parse/selector failure, null entries never emitted —
    * boolean attributes yield "" (IAttrValue::True analog). */
  def extractAttrs(html: String, selector: String, attrName: String): Array[String] = {
    val doc = parse(html)
    if (doc == null) return null
    extractAttrsFrom(doc, selector, attrName)
  }

  private def extractAttrsFrom(doc: VDoc, selector: String, attrName: String): Array[String] =
    compiled(selector) match {
      case Left(_) => null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
        val out = new ArrayBuffer[String](found.length)
        found.foreach { e =>
          new graft.query.Elems(doc, Array(e)).attr(attrName).foreach(v => out += v.value)
        }
        out.toArray
    }

  /** codegen entries for extract_attrs / extract_count (static calls from
    * generated code; null propagates as SQL NULL). */
  def extractAttrsCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      sel: org.apache.spark.unsafe.types.UTF8String,
      attr: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    if (html == null) null else extractAttrsCodegenBinary(html.getBytes, sel, attr)

  /** byte-native BINARY path: the page parses straight from UTF-8 (no
    * UTF-16 inflation); only the small matched attr values materialize as
    * Strings. */
  def extractAttrsCodegenBinary(html: Array[Byte],
      sel: org.apache.spark.unsafe.types.UTF8String,
      attr: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (html == null || sel == null || attr == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val selStr = sel.toString
      val attrName = attr.toString
      val compounds = compiledCompounds(selStr)
      if (compounds != null) {
        // only matched elements' attr values materialize
        val out = new scala.collection.mutable.ArrayBuffer[String](8)
        Engine.forEachMatch(doc, compounds, 0,
          c => new graft.query.Elems(doc, Array(c)).attr(attrName).foreach(v => out += v.value))
        attrsToArrayData(out.toArray)
      } else attrsToArrayData(extractAttrsFrom(doc, selStr, attrName))
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  private def attrsToArrayData(out: Array[String]): org.apache.spark.sql.catalyst.util.ArrayData =
    if (out == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(v => org.apache.spark.unsafe.types.UTF8String.fromString(v).asInstanceOf[Any]))

  def extractCountCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      sel: org.apache.spark.unsafe.types.UTF8String): java.lang.Long =
    if (html == null) null else extractCountCodegenBinary(html.getBytes, sel)

  /** byte-native BINARY path: parseBytes, never a page-sized String. */
  def extractCountCodegenBinary(html: Array[Byte],
      sel: org.apache.spark.unsafe.types.UTF8String): java.lang.Long = {
    if (html == null || sel == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val selStr = sel.toString
      val compounds = compiledCompounds(selStr)
      if (compounds != null) {
        var count = 0L
        Engine.forEachMatch(doc, compounds, 0, _ => count += 1)
        java.lang.Long.valueOf(count)
      } else compiled(selStr) match {
        case Left(_) => null
        case Right(s) =>
          import scala.collection.mutable.ArrayBuffer
          java.lang.Long.valueOf(
            graft.query.Engine.findSelector(doc, ArrayBuffer(0), s).length.toLong)
      }
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** number of selector matches (find(sel).length at SQL level); -1 is
    * never emitted — null on parse/selector failure. */
  def extractCount(html: String, selector: String): java.lang.Long = {
    val doc = parse(html)
    if (doc == null) return null
    compiled(selector) match {
      case Left(_) => null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        java.lang.Long.valueOf(
          graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel).length.toLong)
    }
  }

  /** `extract_links(html, base_url)` static entries: every `a[href]` in
    * document order, resolved per RFC 3986 against the page's effective
    * base and normalized to crawl identity ([[UrlOps.normalize]]). The
    * effective base is the first `base[href]` element resolved against
    * `base_url` (HTML's document-base rule — one base per document,
    * first wins), else `base_url` itself. Unresolvable / unnormalizable
    * hrefs are skipped (crawl tolerance); parse failure yields null. */
  def extractLinksCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    if (html == null) null else extractLinksCodegenBinary(html.getBytes, base)

  /** the page's effective base URL: HTML's document-base rule — the
    * first `base[href]` element wins, itself resolved against the page
    * URL; the page URL otherwise. Hrefs are entity-decoded here (attr()
    * returns raw source bytes, reference parity — links are the one
    * place the HTML-level value matters). */
  private def effectiveBase(doc: VDoc, pageUrl: String): String = {
    val baseHrefs = extractAttrsFrom(doc, "base[href]", "href")
    val b =
      if (baseHrefs != null && baseHrefs.nonEmpty)
        UrlOps.resolve(pageUrl, graft.dom.Entities.decode(baseHrefs(0)))
      else null
    if (b != null) b else pageUrl
  }

  /** byte-native BINARY path: parseBytes, only hrefs materialize as
    * Strings. */
  def extractLinksCodegenBinary(html: Array[Byte],
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (html == null || base == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val pageUrl = base.toString
      val effBase = effectiveBase(doc, pageUrl)
      val hrefs = extractAttrsFrom(doc, "a[href]", "href")
      if (hrefs == null) return null
      // split the base ONCE per page, not per href (pages carry
      // thousands of links at crawl scale)
      val bSplit = UrlOps.split(UrlOps.preClean(effBase))
      val out = new scala.collection.mutable.ArrayBuffer[String](hrefs.length)
      var i = 0
      while (i < hrefs.length) {
        val r = UrlOps.resolveParsed(bSplit, graft.dom.Entities.decode(hrefs(i)))
        if (r != null) {
          val n = UrlOps.normalize(r)
          if (n != null) out += n
        }
        i += 1
      }
      attrsToArrayData(out.toArray)
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null // row degrades, task survives (see first belt note)
    }
  }

  /** `extract_anchors(html, base_url)` static entries: every `a[href]`
    * in document order as STRUCT<href, text> — the WAT-style anchor
    * signal (inbound anchor text is a page-quality / relevance feature a
    * links-only extraction throws away). `href` resolves and normalizes
    * exactly like [[extractLinksCodegenBinary]]; `text` is the anchor's
    * extracted text (the parity `text()`). Unresolvable hrefs are
    * skipped; parse failure yields null. */
  def extractAnchorsCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    if (html == null) null else extractAnchorsCodegenBinary(html.getBytes, base)

  def extractAnchorsCodegenBinary(html: Array[Byte],
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (html == null || base == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val effBase = effectiveBase(doc, base.toString)
      val bSplit = UrlOps.split(UrlOps.preClean(effBase))
      compiled("a[href]") match {
        case Left(_) => null
        case Right(sel) =>
          import scala.collection.mutable.ArrayBuffer
          val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
          val out = new ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow](found.length)
          found.foreach { e =>
            val el = new graft.query.Elems(doc, Array(e))
            el.attr("href").foreach { v =>
              val r = UrlOps.resolveParsed(bSplit, graft.dom.Entities.decode(v.value))
              if (r != null) {
                val n = UrlOps.normalize(r)
                if (n != null) out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](
                    org.apache.spark.unsafe.types.UTF8String.fromString(n),
                    org.apache.spark.unsafe.types.UTF8String.fromString(el.text())))
              }
            }
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            out.toArray[Any])
      }
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null
    }
  }

  /** `extract_canonical(html, base_url)`: the first
    * `link[rel~=canonical][href]` (rel is a case-insensitive token
    * list), resolved against the document base and normalized — the
    * dedup-cluster key a crawl keeps per page. Null when absent. */
  def extractCanonicalCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (html == null) null else extractCanonicalCodegenBinary(html.getBytes, base)

  def extractCanonicalCodegenBinary(html: Array[Byte],
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    if (html == null || base == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val url = findRelUrl(doc, base.toString)
      if (url == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(url)
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null
    }
  }

  private def findRelUrl(doc: VDoc, pageUrl: String): String = {
    val compiledSel = compiled("link[href]")
    compiledSel match {
      case Left(_) => null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
        // one base[href] scan per DOCUMENT, not per candidate link
        lazy val effBase = effectiveBase(doc, pageUrl)
        var i = 0
        while (i < found.length) {
          val el = new graft.query.Elems(doc, Array(found(i)))
          val rel = el.attr("rel")
          // rel matches on the HTML-level (entity-decoded) value, like
          // href — attr() itself stays raw-source
          if (rel.isDefined && hasToken(graft.dom.Entities.decode(rel.get.value), "canonical")) {
            val href = el.attr("href")
            if (href.isDefined) {
              val r = UrlOps.resolve(effBase, graft.dom.Entities.decode(href.get.value))
              if (r != null) {
                val n = UrlOps.normalize(r)
                if (n != null) return n
              }
            }
          }
          i += 1
        }
        null
    }
  }

  /** case-insensitive membership in an HTML space-separated token list
    * (the rel attribute's grammar). */
  private def hasToken(list: String, token: String): Boolean = {
    var i = 0
    val n = list.length
    while (i < n) {
      while (i < n && Character.isWhitespace(list.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(list.charAt(j))) j += 1
      if (j - i == token.length && list.regionMatches(true, i, token, 0, token.length))
        return true
      i = j
    }
    false
  }

  /** `extract_refresh(html, base_url)`: the redirect target of a
    * `meta[http-equiv=refresh]` (WHATWG content grammar:
    * `delay [;,] [url=] TARGET`, quotes optional, all case-insensitive),
    * resolved + normalized. Null when absent or the refresh has no URL
    * part (self-refresh). */
  def extractRefreshCodegen(html: org.apache.spark.unsafe.types.UTF8String,
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (html == null) null else extractRefreshCodegenBinary(html.getBytes, base)

  def extractRefreshCodegenBinary(html: Array[Byte],
      base: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    if (html == null || base == null) return null
    try {
      val doc = parseShared(html)
      if (doc == null) return null
      val url = findRefreshUrl(doc, base.toString)
      if (url == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(url)
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null
    }
  }

  private def findRefreshUrl(doc: VDoc, pageUrl: String): String = {
    compiled("meta[http-equiv][content]") match {
      case Left(_) => null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
        lazy val effBase = effectiveBase(doc, pageUrl)
        var i = 0
        while (i < found.length) {
          val el = new graft.query.Elems(doc, Array(found(i)))
          val he = el.attr("http-equiv")
          if (he.isDefined &&
            graft.dom.Entities.decode(he.get.value).equalsIgnoreCase("refresh")) {
            val content = el.attr("content")
            if (content.isDefined) {
              val target = parseRefreshContent(graft.dom.Entities.decode(content.get.value))
              if (target != null) {
                val r = UrlOps.resolve(effBase, target)
                if (r != null) {
                  val n = UrlOps.normalize(r)
                  if (n != null) return n
                }
              }
            }
          }
          i += 1
        }
        null
    }
  }

  /** WHATWG shared-declarative-refresh steps: leading ws, REQUIRED delay
    * digits (no digits = invalid, not a redirect), optional fraction,
    * then a ws / ';' / ',' separator (plain whitespace is valid — no
    * other char is), optional case-insensitive `url` `=` prefix, and a
    * quoted target TRUNCATED at its close quote. Null when invalid or
    * delay-only (self-refresh carries no redirect edge). */
  private[spark] def parseRefreshContent(content: String): String = {
    val n = content.length
    var i = 0
    while (i < n && Character.isWhitespace(content.charAt(i))) i += 1
    val digitStart = i
    while (i < n && content.charAt(i) >= '0' && content.charAt(i) <= '9') i += 1
    if (i == digitStart) return null
    if (i < n && content.charAt(i) == '.') {
      i += 1
      while (i < n && content.charAt(i) >= '0' && content.charAt(i) <= '9') i += 1
    }
    if (i >= n) return null
    val sep = content.charAt(i)
    if (!(Character.isWhitespace(sep) || sep == ';' || sep == ',')) return null
    while (i < n && Character.isWhitespace(content.charAt(i))) i += 1
    if (i < n && (content.charAt(i) == ';' || content.charAt(i) == ',')) i += 1
    while (i < n && Character.isWhitespace(content.charAt(i))) i += 1
    if (i >= n) return null
    val mark = i
    if (n - i >= 3 && content.regionMatches(true, i, "url", 0, 3)) {
      var j = i + 3
      while (j < n && Character.isWhitespace(content.charAt(j))) j += 1
      if (j < n && content.charAt(j) == '=') {
        j += 1
        while (j < n && Character.isWhitespace(content.charAt(j))) j += 1
        i = j
      } else i = mark // "url" without '=' is part of the target itself
    }
    if (i >= n) return null
    val q = content.charAt(i)
    val s = (if (q == '"' || q == '\'') {
      val close = content.indexOf(q, i + 1)
      if (close >= 0) content.substring(i + 1, close) else content.substring(i + 1)
    } else content.substring(i)).trim
    if (s.isEmpty) null else s
  }
}
