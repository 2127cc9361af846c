package graft.query

import graft.dom.{Arena, Utf8, Utf8Builder}
import graft.selector._
import scala.collection.mutable.ArrayBuffer

/** Selector execution over the arena — a faithful re-expression of mesdoc's
  * element-set engine (reference `src/mesdoc/interface/elements.rs`):
  * per-segment dispatch on combinator (`select_by_rule`, elements.rs:587-910),
  * the `#id` cache fast path with containment verification
  * (elements.rs:1827-1843), `should_in` prefix verification by
  * reverse-combinator walk (`has_ele`, elements.rs:1876-1953), and the
  * filter/not/is/is-all family (`filter_type_handle`, elements.rs:919-1003).
  *
  * Node sets are `Array[Int]` of arena ids kept in document order with the
  * same uniqueness invariants the reference maintains.
  *
  * Root-context segments read the arena's element-name index
  * (`Arena.nameHead`) instead of walking the whole tree: a `ChildrenAll`
  * segment whose context is the document root and whose compound has a
  * `Tag` starts from that tag's chain (the in-tree elements of that name in
  * document order) filtered by the head simple, and runs the rest of the
  * compound as a chain, as before. This is exact because `Tag` (priority
  * 100) sorts ahead of every attribute and positional simple: the set the
  * first positional rule sees is the same. [[forEachMatch]] (the fused
  * comma-group walk of `findSelector` and of `Extractor`'s `extract_*`
  * entries) merges the chains by document position when every compound
  * has a tag. Tagless compounds, sub-tree contexts and `Extractor`'s
  * main-content strip walk keep the tree walk.
  */
object Engine {

  object FilterType extends Enumeration { val Filter, Not, Is, IsAll = Value }

  // ============ set helpers (document order invariants) ============

  def sortAndUnique(a: Arena, ids: ArrayBuffer[Int]): ArrayBuffer[Int] = {
    if (ids.length <= 1) return ids
    val n = ids.length
    // one root-to-node index path per element, computed ONCE (the previous
    // boxed comparator re-derived two paths per comparison)
    val paths = new Array[Array[Int]](n)
    var i = 0
    while (i < n) { paths(i) = a.docOrderPath(ids(i)); i += 1 }
    @inline def cmp(x: Array[Int], y: Array[Int]): Int = {
      var k = 0
      val m = math.min(x.length, y.length)
      while (k < m) {
        if (x(k) != y(k)) return Integer.compare(x(k), y(k))
        k += 1
      }
      Integer.compare(x.length, y.length)
    }
    // fast path: traversals emit in document order already — detect with
    // one adjacent-compare pass, skip the sort entirely
    var sorted = true
    i = 1
    while (sorted && i < n) { if (cmp(paths(i - 1), paths(i)) > 0) sorted = false; i += 1 }
    val pos = new Array[Int](n)
    i = 0
    while (i < n) { pos(i) = i; i += 1 }
    if (!sorted) {
      if (n <= 64) {
        // primitive insertion sort on positions (small sets; no boxing)
        i = 1
        while (i < n) {
          val pv = pos(i)
          val pp = paths(pv)
          var j = i - 1
          while (j >= 0 && cmp(paths(pos(j)), pp) > 0) { pos(j + 1) = pos(j); j -= 1 }
          pos(j + 1) = pv
          i += 1
        }
      } else {
        // large sets: primitive natural-run merge sort on int positions.
        // parents()/closest()/siblings()/ParentAll concatenate many
        // ascending per-node runs — near worst case for insertion sort
        // (O(n^2)) but O(n log r) here with no Integer boxing: detect the
        // ascending run boundaries once, then bottom-up merge adjacent runs.
        var bounds = new Array[Int](16)
        var nb = 0
        @inline def addBound(v: Int): Unit = {
          if (nb == bounds.length) bounds = java.util.Arrays.copyOf(bounds, nb * 2)
          bounds(nb) = v; nb += 1
        }
        addBound(0)
        i = 1
        while (i < n) {
          if (cmp(paths(pos(i - 1)), paths(pos(i))) > 0) addBound(i)
          i += 1
        }
        addBound(n)
        var src = pos
        var dst = new Array[Int](n)
        while (nb > 2) {
          var outNb = 0
          val newBounds = new Array[Int](nb)
          var b = 0
          while (b + 2 < nb) {
            // merge src[bounds(b), bounds(b+1)) with src[bounds(b+1), bounds(b+2))
            var l = bounds(b)
            var r = bounds(b + 1)
            val lEnd = bounds(b + 1)
            val rEnd = bounds(b + 2)
            var o = bounds(b)
            while (l < lEnd && r < rEnd) {
              if (cmp(paths(src(l)), paths(src(r))) <= 0) { dst(o) = src(l); l += 1 }
              else { dst(o) = src(r); r += 1 }
              o += 1
            }
            while (l < lEnd) { dst(o) = src(l); l += 1; o += 1 }
            while (r < rEnd) { dst(o) = src(r); r += 1; o += 1 }
            newBounds(outNb) = bounds(b); outNb += 1
            b += 2
          }
          if (b + 2 == nb) { // odd run out: copy through
            var k = bounds(b)
            while (k < bounds(b + 1)) { dst(k) = src(k); k += 1 }
            newBounds(outNb) = bounds(b); outNb += 1
          }
          newBounds(outNb) = n; outNb += 1
          val t = src; src = dst; dst = t
          System.arraycopy(newBounds, 0, bounds, 0, outNb)
          nb = outNb
        }
        if (!(src eq pos)) System.arraycopy(src, 0, pos, 0, n)
      }
    }
    val out = new ArrayBuffer[Int](n)
    i = 0
    while (i < n) {
      val v = ids(pos(i))
      if (out.isEmpty || out(out.length - 1) != v) out += v
      i += 1
    }
    out
  }

  /** drop elements that are descendants of other set members (reference
    * unique_parents, elements.rs:451-478) — input in doc order. */
  def uniqueParents(a: Arena, ids: ArrayBuffer[Int]): ArrayBuffer[Int] = {
    if (ids.length <= 1) return ids
    val kept = new java.util.HashSet[Integer]()
    val out = new ArrayBuffer[Int](ids.length)
    var i = 0
    while (i < ids.length) {
      val e = ids(i)
      var p = a.parent(e)
      var isDesc = false
      while (p >= 0 && !isDesc) { if (kept.contains(p)) isDesc = true; p = a.parent(p) }
      if (!isDesc) { kept.add(e); out += e }
      i += 1
    }
    out
  }

  /** keep ONE member per distinct parent — first (asc) / last of each
    * (reference unique_sibling, elements.rs:367-415). The reference pairs
    * a consecutive-run fast path (prev_parent) with a GLOBAL parent
    * HashSet (parents_indexs), so NON-consecutive same-parent members —
    * which nested sets like `find("a, i, b")` produce — also dedup; a
    * run-only dedup emitted the parent twice and out of order. Members
    * with no element parent collapse to the first one (has_root). */
  def uniqueSibling(a: Arena, ids: ArrayBuffer[Int], first: Boolean): ArrayBuffer[Int] = {
    if (ids.length <= 1) return ids
    val out = new ArrayBuffer[Int](ids.length)
    val seenParents = new java.util.HashSet[Integer]()
    var prevParent = Int.MinValue
    var hasRoot = false
    def handle(e: Int): Unit = {
      val p = a.parent(e)
      if (p >= 0) {
        if (prevParent != Int.MinValue && p == prevParent) return
        prevParent = p
        if (seenParents.add(p)) out += e
      } else if (!hasRoot) { hasRoot = true; out += e }
    }
    if (first) {
      var i = 0
      while (i < ids.length) { handle(ids(i)); i += 1 }
    } else {
      var i = ids.length - 1
      while (i >= 0) { handle(ids(i)); i -= 1 }
      // walked last-to-first: reverse to restore document order
      var l = 0
      var r = out.length - 1
      while (l < r) { val t = out(l); out(l) = out(r); out(r) = t; l += 1; r -= 1 }
    }
    out
  }

  /** (node, isParent) pairs for sibling dedup: a consecutive same-parent run
    * of >=2 yields (parent, true) — the run's sibling union is exactly the
    * parent's children (reference unique_all_siblings, elements.rs:417-449;
    * pinned by tests/method.rs:755-760). */
  def uniqueAllSiblings(a: Arena, ids: ArrayBuffer[Int]): ArrayBuffer[(Int, Boolean)] = {
    val out = new ArrayBuffer[(Int, Boolean)]()
    var i = 0
    while (i < ids.length) {
      val e = ids(i)
      val p = a.parent(e)
      var j = i + 1
      while (j < ids.length && a.parent(ids(j)) == p) j += 1
      if (j - i >= 2 && p >= 0) out += ((p, true))
      else out += ((e, false))
      i = j
    }
    out
  }

  def elementChildren(a: Arena, p: Int): ArrayBuffer[Int] = {
    val out = new ArrayBuffer[Int](8)
    var c = a.firstChild(p)
    while (c >= 0) { if (a.kind(c) == a.ELEM) out += c; c = a.nextSib(c) }
    out
  }

  def siblingsOf(a: Arena, e: Int): ArrayBuffer[Int] = {
    val out = new ArrayBuffer[Int](8)
    val p = a.parent(e)
    if (p < 0) return out
    var c = a.firstChild(p)
    while (c >= 0) { if (a.kind(c) == a.ELEM && c != e) out += c; c = a.nextSib(c) }
    out
  }

  // ============ nth math ============

  /** port of Nth::get_allowed_indexs (reference
    * `src/mesdoc/selector/pattern.rs:264-343`), returned sorted ascending. */
  def allowedIndexes(hasN: Boolean, n: Long, idx: Long, total: Int): Array[Int] = {
    if (!hasN) {
      if (idx <= 0 || idx > total) return Array.emptyIntArray
      return Array((idx - 1).toInt)
    }
    if (n == 0) {
      if (idx > 0 && idx <= total) return Array((idx - 1).toInt)
      return Array.emptyIntArray
    }
    def ceilDiv(x: Long, y: Long): Long = -Math.floorDiv(-x, y)
    var startLoop: Long = 0L
    var endLoop: Long = 0L
    if (n < 0) {
      if (idx <= 0) return Array.emptyIntArray
      if (idx <= -n) {
        if (idx <= total) return Array((idx - 1).toInt)
        return Array.emptyIntArray
      }
      startLoop = ceilDiv(idx - total, -n)
      endLoop = Math.floorDiv(idx - 1, -n)
    } else {
      startLoop = ceilDiv(1 - idx, n)
      endLoop = Math.floorDiv(total - idx, n)
    }
    if (startLoop < 0) startLoop = 0
    if (startLoop > endLoop) return Array.emptyIntArray
    val out = new ArrayBuffer[Int]((endLoop - startLoop + 1).toInt)
    var i = startLoop
    while (i <= endLoop) {
      val cur = i * n + idx
      if (cur >= 1) out += (cur - 1).toInt
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  // ============ simple-selector predicates ============

  def classListContains(v: String, name: String): Boolean = {
    // whitespace-split contains (reference utils.rs:128-152)
    var i = 0
    val n = v.length
    val m = name.length
    while (i < n) {
      while (i < n && Character.isWhitespace(v.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(v.charAt(j))) j += 1
      if (j - i == m && v.regionMatches(i, name, 0, m)) return true
      i = j
    }
    false
  }

  private val ClassKey: Array[Byte] = "class".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val HtmlName: Array[Byte] = "html".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  /** ASCII bytes `Character.isWhitespace` accepts: the class-list split */
  private val ClassSeps = Utf8.separators('\t', '\n', '\u000b', '\f', '\r',
    '\u001c', '\u001d', '\u001e', '\u001f', ' ')
  /** the `~=` word-list split (reference rules/attr.rs) */
  private val WordSeps = Utf8.separators(' ', '\t', '\n', '\r', '\f')

  /** per-thread scratch for `:contains` text; reused across candidates */
  private val containsText = new ThreadLocal[Utf8Builder] {
    override def initialValue(): Utf8Builder = new Utf8Builder(1 << 12)
  }

  def isPositional(s: Simple): Boolean = Simple.isPositional(s)

  /** Per-element predicate for non-positional simples — the one entry for
    * `find`, `filter`/`not`/`has` and the fused walks of `Extractor`. Tag,
    * class, attribute and `:contains` rules read the arena's UTF-8 spans
    * against the rule's pre-encoded [[Operand]], and fall back to decoding
    * the span and running the String predicate when bytes cannot decide
    * exactly: a `class` value with a non-ASCII byte, an attribute value
    * that is not well-formed UTF-8, an operand that is not exact (unpaired
    * surrogate or U+FFFD), or `:contains` text with a run malformed on its
    * own. Results equal the String predicates for every input. */
  def matchOne(doc: VDoc, e: Int, s: Simple): Boolean = s match {
    case t: Simple.Tag =>
      val a = doc.arena
      a.kind(e) == a.ELEM && a.spanEqIgnoreCase(a.nameOff(e), a.nameLen(e), t.utf8)
    case c: Simple.Cls =>
      val a = doc.arena
      a.kind(e) == a.ELEM && matchClass(a, e, c.operand)
    case at: Simple.Attr => matchAttr(doc.arena, e, at)
    case c: Simple.Contains => matchContains(doc.arena, e, c.operand)
    case _ => matchStructural(doc, e, s)
  }

  // the rules that read no operand span, kept out of matchOne so that the
  // per-element entry stays small enough for the JIT to inline in walks
  private def matchStructural(doc: VDoc, e: Int, s: Simple): Boolean = {
    val a = doc.arena
    s match {
      case Simple.All => true
      case Simple.Id(v) =>
        // reference parity (id.rs:8-52): #id means THE document's
        // get_element_by_id element (first in doc order) in every context
        // — find, filter, comma groups, fused walks. An element with a
        // DUPLICATE id must not match, so the identity check goes through
        // the id cache, not the attribute.
        a.kind(e) == a.ELEM && a.getElementById(v) == e
      case Simple.Root =>
        a.kind(e) == a.ELEM && a.spanEqIgnoreCase(a.nameOff(e), a.nameLen(e), HtmlName) &&
          a.parent(e) == 0 && a.isDocument
      case Simple.Empty =>
        // no child nodes, or only comments (reference pseudo.rs:69-99)
        var c = a.firstChild(e)
        var onlyComments = true
        while (c >= 0 && onlyComments) {
          if (a.kind(c) != a.COMMENT) onlyComments = false
          c = a.nextSib(c)
        }
        onlyComments
      case Simple.Checked => matchChecked(doc, e)
      case not: Simple.Not =>
        // a per-element inner selector skips filterTypeHandle's set machinery
        if (not.compounds != null) !matchesAnyCompound(doc, e, not.compounds)
        else !matchesSelector(doc, e, not.sel)
      case Simple.Has(sel) => findSelector(doc, ArrayBuffer(e), sel).nonEmpty
      case Simple.Alias(sel) => matchesSelector(doc, e, sel)
      case _ => false // positional handled by matchAllPositional
    }
  }

  /** `.name`: some whitespace-separated token of the `class` value equals
    * the name — a token scan of the span when it is ASCII. */
  private def matchClass(a: Arena, e: Int, name: Operand): Boolean = {
    val ai = a.findAttr(e, ClassKey)
    if (ai < 0 || a.aValOff(ai) < 0) return false // absent, or boolean: no tokens
    val off = a.aValOff(ai)
    val len = a.aValLen(ai)
    if (!name.exact || !Utf8.isAscii(a.buf, off, len)) classListContains(a.str(off, len), name.str)
    else name.ascii && Utf8.hasToken(a.buf, off, len, name.utf8, ClassSeps)
  }

  /** attribute operator semantics, exactly as reference rules/attr.rs:23-84
    * including the empty-value and missing-attribute edge cases; a
    * well-formed value span compares as bytes. */
  private def matchAttr(a: Arena, e: Int, s: Simple.Attr): Boolean = {
    if (a.kind(e) != a.ELEM) return false
    val attrIdx = a.findAttr(e, s.keyUtf8)
    if (s.op == 0) return attrIdx >= 0
    val value = s.operand
    // empty attr value with ^ $ * ~ matches nothing
    if (value.str.isEmpty && (s.op == '^' || s.op == '$' || s.op == '*' || s.op == '~')) return false
    val off = if (attrIdx < 0) -1 else a.aValOff(attrIdx)
    if (off < 0) return attrOp(null, s.op, value.str) // absent or boolean
    val len = a.aValLen(attrIdx)
    if (!value.exact || !Utf8.wellFormed(a.buf, off, len)) return attrOp(a.str(off, len), s.op, value.str)
    val b = a.buf
    val p = value.utf8
    s.op match {
      case '^' => Utf8.startsWith(b, off, len, p)
      case '$' => Utf8.endsWith(b, off, len, p)
      case '*' => Utf8.indexOf(b, off, len, p) >= 0
      case '|' =>
        Utf8.spanEquals(b, off, len, p) ||
          (len > p.length && Utf8.startsWith(b, off, len, p) && b(off + p.length) == '-')
      case '~' => Utf8.hasToken(b, off, len, p, WordSeps)
      case '!' => !Utf8.spanEquals(b, off, len, p)
      case '=' => Utf8.spanEquals(b, off, len, p)
      case _ => false
    }
  }

  /** the attribute operators on a decoded value (null: absent or boolean). */
  private def attrOp(v: String, op: Char, value: String): Boolean = {
    op match {
      case '^' => v != null && v.startsWith(value)
      case '$' => v != null && v.endsWith(value)
      case '*' => v != null && v.contains(value)
      case '|' =>
        if (v == null) value.isEmpty
        else v == value || v.startsWith(value + "-")
      case '~' => v != null && Utf8.hasToken(v, value, WordSeps)
      case '!' =>
        if (v == null) value.nonEmpty else v != value
      case '=' =>
        if (v == null) value.isEmpty else v == value
      case _ => false
    }
  }

  /** `:contains`: a byte search over the element's UTF-8 text, unless the
    * operand is not exact or some text run is malformed on its own. */
  private def matchContains(a: Arena, e: Int, search: Operand): Boolean = {
    if (search.str.isEmpty) return true
    if (search.exact) {
      val out = containsText.get()
      out.reset()
      if (a.textContentUtf8Checked(e, out)) return Utf8.indexOf(out.buf, 0, out.len, search.utf8) >= 0
    }
    a.text(e).contains(search.str)
  }

  /** :checked (reference rules/pseudo.rs:918-1013). */
  private def matchChecked(doc: VDoc, e: Int): Boolean = {
    val a = doc.arena
    if (a.kind(e) != a.ELEM) return false
    val name = a.lowerName(e)
    if (name == "input") {
      val t = a.attrValue(e, "type")
      if (t != null) {
        val lt = t.toLowerCase
        if (lt == "checkbox" || lt == "radio") return a.hasAttr(e, "checked")
      }
      false
    } else if (name == "option") {
      if (a.hasAttr(e, "selected")) return true
      // default-option rule: direct child of non-multiple select, first
      // option among prev siblings, no selected option in following siblings
      val p = a.parent(e)
      if (p >= 0 && a.kind(p) == a.ELEM && a.lowerName(p) == "select" && !a.hasAttr(p, "multiple")) {
        var prev = a.prevElemSib(e)
        while (prev >= 0) {
          if (a.lowerName(prev) == "option") return false
          prev = a.prevElemSib(prev)
        }
        def hasSelectedOption(x: Int): Boolean = {
          if (a.lowerName(x) == "option") a.hasAttr(x, "selected")
          else {
            var c = a.firstChild(x)
            while (c >= 0) {
              if (a.kind(c) == a.ELEM && hasSelectedOption(c)) return true
              c = a.nextSib(c)
            }
            false
          }
        }
        var next = a.nextElemSib(e)
        while (next >= 0) {
          if (hasSelectedOption(next)) return false
          next = a.nextElemSib(next)
        }
        true
      } else false
    } else false
  }

  // ============ positional matchers ============

  /** apply a positional simple to a set. `grouped=true` mirrors
    * `all_handle(eles, None)`: consecutive same-parent runs are evaluated
    * against the parent's full element-children list (reference
    * group_siblings_then_done, pseudo.rs:108-150). `grouped=false` mirrors
    * `all_handle(childs, Some(..))`: the set IS one parent's children. */
  def matchAllPositional(doc: VDoc, ids: ArrayBuffer[Int], s: Simple, grouped: Boolean): ArrayBuffer[Int] = {
    val a = doc.arena
    if (ids.isEmpty) return ids
    s match {
      case Simple.OnlyChild =>
        ids.filter(e => a.parent(e) >= 0 && a.childElemCount(a.parent(e)) == 1)
      case Simple.OnlyOfType =>
        ids.filter { e =>
          val p = a.parent(e)
          p >= 0 && {
            var c = a.firstChild(p)
            var dup = false
            while (c >= 0 && !dup) {
              if (c != e && a.kind(c) == a.ELEM && a.sameLowerName(c, e)) dup = true
              c = a.nextSib(c)
            }
            !dup
          }
        }
      case Simple.Nth(ofType, last, hasN, n, idx) =>
        val out = new ArrayBuffer[Int](ids.length)
        if (!grouped) {
          // ids are exactly the element children of one parent, in order
          val total = ids.length
          // constant-index *-child fast path (reference specified_handle,
          // pseudo.rs:154-206): direct positional pick, no index-set scan
          if (!hasN && !ofType) {
            if (idx >= 1 && idx <= total) {
              val pos = if (last) total - idx.toInt else idx.toInt - 1
              out += ids(pos)
            }
            return out
          }
          val allow = allowedIndexes(hasN, n, idx, total)
          if (allow.nonEmpty) {
            if (!ofType) {
              var j = 0
              while (j < total) {
                val rank = if (last) total - 1 - j else j
                if (java.util.Arrays.binarySearch(allow, rank) >= 0) out += ids(j)
                j += 1
              }
            } else matchNthOfType(a, ids, ids, allow, last, out)
          }
        } else {
          var i = 0
          while (i < ids.length) {
            val p = a.parent(ids(i))
            var j = i + 1
            while (j < ids.length && a.parent(ids(j)) == p) j += 1
            if (p >= 0 && ofType && oneNameInOrder(a, ids, i, j)) nthOfOneName(a, p, ids, i, j, hasN, n, idx, last, out)
            else if (p >= 0) {
              val childs = elementChildren(a, p)
              val total = childs.length
              val allow = allowedIndexes(hasN, n, idx, total)
              if (allow.nonEmpty) {
                if (!ofType) {
                  // candidates share doc order with childs, so one forward
                  // pointer finds every position — the per-candidate
                  // indexOf was O(children^2) on wide sibling lists
                  var k = i
                  var pos = 0
                  while (k < j) {
                    while (pos < total && childs(pos) != ids(k)) pos += 1
                    if (pos < total) {
                      val rank = if (last) total - 1 - pos else pos
                      if (java.util.Arrays.binarySearch(allow, rank) >= 0) out += ids(k)
                      pos += 1
                    }
                    k += 1
                  }
                } else {
                  val run = ids.slice(i, j)
                  matchNthOfType(a, childs, run, allow, last, out)
                }
              }
            }
            i = j
          }
        }
        out
      case _ => ids
    }
  }

  /** `ids[from, until)`, children of one parent, share one lower-case name
    * and follow the children's order (always so after a `Tag` rule) */
  private def oneNameInOrder(a: Arena, ids: ArrayBuffer[Int], from: Int, until: Int): Boolean = {
    val rep = ids(from)
    val ascii = Utf8.isAscii(a.buf, a.nameOff(rep), a.nameLen(rep))
    var k = from + 1
    while (k < until) {
      val x = ids(k)
      if (a.nodeIdx(ids(k - 1)) >= a.nodeIdx(x)) return false
      if (!(if (ascii) a.sameFoldedName(x, rep) else a.sameLowerName(x, rep))) return false
      k += 1
    }
    true
  }

  /** `*-of-type` for candidates `ids[from, until)` of parent `p` that share
    * one name, in child order: a candidate's rank counts the siblings of
    * that name, read in two passes over the children with no list of them
    * and no table of their names. */
  private def nthOfOneName(a: Arena, p: Int, ids: ArrayBuffer[Int], from: Int, until: Int,
      hasN: Boolean, n: Long, idx: Long, last: Boolean, out: ArrayBuffer[Int]): Unit = {
    val rep = ids(from)
    val ascii = Utf8.isAscii(a.buf, a.nameOff(rep), a.nameLen(rep))
    @inline def same(x: Int): Boolean = if (ascii) a.sameFoldedName(x, rep) else a.sameLowerName(x, rep)
    var total = 0
    var named = 0
    var c = a.firstChild(p)
    while (c >= 0) {
      if (a.kind(c) == a.ELEM) { total += 1; if (same(c)) named += 1 }
      c = a.nextSib(c)
    }
    val allow = allowedIndexes(hasN, n, idx, total)
    if (allow.isEmpty) return
    var k = from
    var fwd = 0
    c = a.firstChild(p)
    while (c >= 0 && k < until) {
      if (a.kind(c) == a.ELEM && same(c)) {
        if (c == ids(k)) {
          val rank = if (last) named - 1 - fwd else fwd
          if (java.util.Arrays.binarySearch(allow, rank) >= 0) out += c
          k += 1
        }
        fwd += 1
      }
      c = a.nextSib(c)
    }
  }

  /** of-type rank matching: rank = position among same-tag-name siblings
    * (reference get_allowed_name_ele, pseudo.rs:444-469). Names group
    * through an open-addressing table of name-span hashes; ranks are int
    * arrays parallel to `childs`. */
  private def matchNthOfType(a: Arena, childs: ArrayBuffer[Int], candidates: ArrayBuffer[Int],
      allow: Array[Int], last: Boolean, out: ArrayBuffer[Int]): Unit = {
    val total = childs.length
    // typeOf(i): index of the first child whose lower-case name equals i's
    val typeOf = new Array[Int](total)
    val hashes = new Array[Int](total)
    var cap = 2
    while (cap < total * 2) cap <<= 1
    val slots = new Array[Int](cap)
    java.util.Arrays.fill(slots, -1)
    var i = 0
    while (i < total) {
      val h = a.lowerNameHash(childs(i))
      hashes(i) = h
      var s = (h ^ (h >>> 16)) & (cap - 1)
      while (slots(s) >= 0 && !(hashes(slots(s)) == h && a.sameLowerName(childs(slots(s)), childs(i))))
        s = (s + 1) & (cap - 1)
      if (slots(s) < 0) slots(s) = i
      typeOf(i) = slots(s)
      i += 1
    }
    val counter = new Array[Int](total) // per type representative
    val rank = new Array[Int](total)
    i = if (last) total - 1 else 0
    while (i >= 0 && i < total) {
      rank(i) = counter(typeOf(i))
      counter(typeOf(i)) += 1
      i += (if (last) -1 else 1)
    }
    // candidates follow childs' order, so one forward pointer finds each;
    // it wraps around once for a candidate out of that order
    var pos = 0
    var k = 0
    while (k < candidates.length) {
      val c = candidates(k)
      var probe = 0
      while (probe < total && childs(pos) != c) { pos = if (pos + 1 == total) 0 else pos + 1; probe += 1 }
      if (probe < total) {
        if (java.util.Arrays.binarySearch(allow, rank(pos)) >= 0) out += c
        pos = if (pos + 1 == total) 0 else pos + 1
      }
      k += 1
    }
  }

  // ============ per-rule selection (select_by_rule) ============

  /** apply one simple selector with a combinator to a set (reference
    * select_by_rule, elements.rs:587-910). */
  def applySimple(doc: VDoc, ids: ArrayBuffer[Int], s: Simple, comb: Combinator.Value): ArrayBuffer[Int] = {
    val a = doc.arena
    val positional = isPositional(s)
    val out = new ArrayBuffer[Int](math.max(8, ids.length))
    import Combinator._
    comb match {
      case ChildrenAll =>
        val roots = if (ids.length > 1) uniqueParents(a, ids) else ids
        if (!positional) {
          def rec(node: Int): Unit = {
            var c = a.firstChild(node)
            while (c >= 0) {
              if (a.kind(c) == a.ELEM) {
                if (matchOne(doc, c, s)) out += c
                if (a.firstChild(c) >= 0) rec(c)
              }
              c = a.nextSib(c)
            }
          }
          roots.foreach(rec)
        } else {
          def rec(node: Int): Unit = {
            val childs = elementChildren(a, node)
            if (childs.nonEmpty) {
              val matched = matchAllPositional(doc, childs, s, grouped = false)
              var mi = 0
              var ci = 0
              while (ci < childs.length) {
                val c = childs(ci)
                if (mi < matched.length && matched(mi) == c) { out += c; mi += 1 }
                if (a.firstChild(c) >= 0) rec(c)
                ci += 1
              }
            }
          }
          roots.foreach(rec)
        }
        out
      case Children =>
        if (!positional) {
          ids.foreach { e =>
            var c = a.firstChild(e)
            while (c >= 0) {
              if (a.kind(c) == a.ELEM && matchOne(doc, c, s)) out += c
              c = a.nextSib(c)
            }
          }
        } else {
          // constant-index *-child (`:first-child`, `:nth-child(7)`,
          // `:last-child`): O(idx) sibling walk per parent — never
          // materialize the full child list (reference specified_handle)
          s match {
            case Simple.Nth(false, last, false, _, idx) if idx >= 1 =>
              ids.foreach { e =>
                var c = if (last) a.lastChild(e) else a.firstChild(e)
                var remaining = idx
                while (c >= 0 && remaining > 0) {
                  if (a.kind(c) == a.ELEM) {
                    remaining -= 1
                    if (remaining == 0) out += c
                  }
                  c = if (last) a.prevSib(c) else a.nextSib(c)
                }
              }
              return out
            case _ => ()
          }
          ids.foreach { e =>
            val childs = elementChildren(a, e)
            if (childs.nonEmpty) out ++= matchAllPositional(doc, childs, s, grouped = false)
          }
        }
        out
      case Parent =>
        val uniques = uniqueSibling(a, ids, first = true)
        if (!positional) {
          uniques.foreach { e =>
            val p = a.parent(e)
            if (p >= 0 && a.kind(p) != a.ROOT && matchOne(doc, p, s)) out += p
          }
          out
        } else {
          val parents = new ArrayBuffer[Int]()
          uniques.foreach { e =>
            val p = a.parent(e)
            if (p >= 0 && a.kind(p) != a.ROOT) parents += p
          }
          matchAllPositional(doc, parents, s, grouped = true)
        }
      case ParentAll =>
        val all = new ArrayBuffer[Int]()
        ids.foreach { e =>
          // ancestors in doc order (ancestor before parent), excl. root
          val chain = new ArrayBuffer[Int](8)
          var p = a.parent(e)
          while (p >= 0 && a.kind(p) != a.ROOT) { chain += p; p = a.parent(p) }
          var i = chain.length - 1
          while (i >= 0) { all += chain(i); i -= 1 }
        }
        val uniq = sortAndUnique(a, all)
        if (!positional) uniq.filter(e => matchOne(doc, e, s))
        else matchAllPositional(doc, uniq, s, grouped = true)
      case NextAll =>
        val uniques = uniqueSibling(a, ids, first = true)
        uniques.foreach { e =>
          val nexts = new ArrayBuffer[Int](8)
          var c = a.nextElemSib(e)
          while (c >= 0) { nexts += c; c = a.nextElemSib(c) }
          if (!positional) out ++= nexts.filter(x => matchOne(doc, x, s))
          else out ++= matchAllPositional(doc, nexts, s, grouped = true)
        }
        out
      case Next =>
        if (!positional) {
          ids.foreach { e =>
            val nx = a.nextElemSib(e)
            if (nx >= 0 && matchOne(doc, nx, s)) out += nx
          }
          out
        } else {
          val nexts = new ArrayBuffer[Int]()
          ids.foreach { e => val nx = a.nextElemSib(e); if (nx >= 0) nexts += nx }
          matchAllPositional(doc, nexts, s, grouped = true)
        }
      case PrevAll =>
        val uniques = uniqueSibling(a, ids, first = false)
        uniques.foreach { e =>
          val prevs = new ArrayBuffer[Int](8)
          var c = if (a.parent(e) < 0) -1 else a.firstChild(a.parent(e))
          while (c >= 0 && c != e) {
            if (a.kind(c) == a.ELEM) prevs += c
            c = a.nextSib(c)
          }
          if (!positional) out ++= prevs.filter(x => matchOne(doc, x, s))
          else out ++= matchAllPositional(doc, prevs, s, grouped = true)
        }
        out
      case Prev =>
        if (!positional) {
          ids.foreach { e =>
            val pv = a.prevElemSib(e)
            if (pv >= 0 && matchOne(doc, pv, s)) out += pv
          }
          out
        } else {
          val prevs = new ArrayBuffer[Int]()
          ids.foreach { e => val pv = a.prevElemSib(e); if (pv >= 0) prevs += pv }
          matchAllPositional(doc, prevs, s, grouped = true)
        }
      case Siblings =>
        uniqueAllSiblings(a, ids).foreach { case (e, isParent) =>
          val set = if (isParent) elementChildren(a, e) else siblingsOf(a, e)
          if (!positional) out ++= set.filter(x => matchOne(doc, x, s))
          else out ++= matchAllPositional(doc, set, s, grouped = true)
        }
        out
      case Chain =>
        if (!positional) ids.filter(e => matchOne(doc, e, s))
        else matchAllPositional(doc, ids, s, grouped = true)
    }
  }

  /** apply one compound segment: first simple carries the entry combinator,
    * the rest chain (reference select, elements.rs:1820-1856, incl. the #id
    * cache fast path with ancestry verification). */
  def selectSegment(doc: VDoc, ids: ArrayBuffer[Int], seg: Segment,
      combOverride: Option[Combinator.Value]): ArrayBuffer[Int] = {
    val a = doc.arena
    val comb = combOverride.getOrElse(seg.comb)
    var cur: ArrayBuffer[Int] = null
    val simples = seg.simples
    simples.head match {
      case Simple.Id(idVal) if comb == Combinator.ChildrenAll =>
        val target = a.getElementById(idVal)
        if (target < 0) return new ArrayBuffer[Int](0)
        if (!hasEle(doc, ids, target, Combinator.ChildrenAll, Nil)) return new ArrayBuffer[Int](0)
        cur = ArrayBuffer(target)
      case head =>
        val tag =
          if (comb == Combinator.ChildrenAll && isRoot(ids) && !isPositional(head)) tagOf(simples) else null
        cur = if (tag != null) namedMatching(doc, tag, head) else applySimple(doc, ids, head, comb)
    }
    var rest = simples.tail
    while (rest.nonEmpty && cur.nonEmpty) {
      cur = applySimple(doc, cur, rest.head, Combinator.Chain)
      rest = rest.tail
    }
    cur
  }

  @inline private def isRoot(ids: ArrayBuffer[Int]): Boolean = ids.length == 1 && ids(0) == 0

  /** the compound's tag rule, or null */
  private def tagOf(simples: List[Simple]): Simple.Tag = {
    var rest = simples
    while (rest.nonEmpty) {
      rest.head match {
        case t: Simple.Tag => return t
        case _ => rest = rest.tail
      }
    }
    null
  }

  private def tagOf(simples: Array[Simple]): Simple.Tag = {
    var i = 0
    while (i < simples.length) {
      simples(i) match {
        case t: Simple.Tag => return t
        case _ => i += 1
      }
    }
    null
  }

  /** the in-tree elements named `tag` that match `head`, in document order */
  private def namedMatching(doc: VDoc, tag: Simple.Tag, head: Simple): ArrayBuffer[Int] = {
    val a = doc.arena
    val out = new ArrayBuffer[Int](8)
    var pos = a.nameHead(tag.utf8, tag.hash)
    while (pos >= 0) {
      val e = a.nameElem(pos)
      if ((head eq tag) || matchOne(doc, e, head)) out += e
      pos = a.nameNext(pos)
    }
    out
  }

  def matchesCompound(doc: VDoc, e: Int, simples: Array[Simple]): Boolean = {
    var si = 0
    while (si < simples.length) {
      if (!matchOne(doc, e, simples(si))) return false
      si += 1
    }
    true
  }

  def matchesAnyCompound(doc: VDoc, e: Int, compounds: Array[Array[Simple]]): Boolean = {
    var pi = 0
    while (pi < compounds.length) {
      if (matchesCompound(doc, e, compounds(pi))) return true
      pi += 1
    }
    false
  }

  /** Calls `hit` on every element below `node` that matches any of
    * `compounds` (non-positional simples), in document order, each once:
    * `find`'s doc-order union of descendant comma groups. Below the root,
    * when every compound has a tag, it scans the tags' chains of the
    * element-name index, merged by document position; otherwise it walks
    * the subtree. */
  def forEachMatch(doc: VDoc, compounds: Array[Array[Simple]], node: Int, hit: Int => Unit): Unit =
    if (node != 0 || !forEachNamedMatch(doc, compounds, hit)) walkMatches(doc, compounds, node, hit)

  private def walkMatches(doc: VDoc, compounds: Array[Array[Simple]], node: Int, hit: Int => Unit): Unit = {
    val a = doc.arena
    var c = a.firstChild(node)
    while (c >= 0) {
      if (a.kind(c) == a.ELEM) {
        if (matchesAnyCompound(doc, c, compounds)) hit(c)
        if (a.firstChild(c) >= 0) walkMatches(doc, compounds, c, hit)
      }
      c = a.nextSib(c)
    }
  }

  /** [[forEachMatch]] from the root through the name index; false (and no
    * call of `hit`) when some compound has no tag. */
  private def forEachNamedMatch(doc: VDoc, compounds: Array[Array[Simple]], hit: Int => Unit): Boolean = {
    val a = doc.arena
    val k = compounds.length
    val tags = new Array[Simple.Tag](k)
    var j = 0
    while (j < k) {
      tags(j) = tagOf(compounds(j))
      if (tags(j) == null) return false
      j += 1
    }
    // one cursor per compound; compounds of one tag share a chain, so
    // each step takes the least position and advances every cursor on it
    val cur = new Array[Int](k)
    j = 0
    while (j < k) { cur(j) = a.nameHead(tags(j).utf8, tags(j).hash); j += 1 }
    var go = true
    while (go) {
      var least = Int.MaxValue
      j = 0
      while (j < k) {
        if (cur(j) >= 0) least = math.min(least, cur(j))
        j += 1
      }
      if (least == Int.MaxValue) go = false
      else {
        val e = a.nameElem(least)
        var matched = false
        j = 0
        while (j < k) {
          if (cur(j) == least) {
            if (!matched) matched = matchesCompound(doc, e, compounds(j))
            cur(j) = a.nameNext(least)
          }
          j += 1
        }
        if (matched) hit(e)
      }
    }
    true
  }

  /** reverse-combinator containment / prefix verification (reference
    * has_ele, elements.rs:1876-1953). */
  def hasEle(doc: VDoc, ctx: ArrayBuffer[Int], ele: Int, comb: Combinator.Value,
      lookup: List[Segment]): Boolean = {
    val a = doc.arena
    var elements = ArrayBuffer(ele)
    var lookupComb = Combinator.reverse(comb)
    var segs = lookup.reverse
    while (segs.nonEmpty) {
      val seg = segs.head
      val finded = selectSegment(doc, elements, seg, Some(lookupComb))
      if (finded.isEmpty) return false
      lookupComb = Combinator.reverse(seg.comb)
      elements = finded
      segs = segs.tail
    }
    val ctxSet = new java.util.HashSet[Integer]()
    ctx.foreach(ctxSet.add(_))
    import Combinator._
    lookupComb match {
      case Parent =>
        elements.exists(e => a.parent(e) >= 0 && ctxSet.contains(a.parent(e)))
      case ParentAll =>
        elements.exists { e =>
          var p = a.parent(e)
          var found = false
          while (p >= 0 && !found) { if (ctxSet.contains(p)) found = true; p = a.parent(p) }
          found
        }
      case Prev =>
        elements.exists(e => a.prevElemSib(e) >= 0 && ctxSet.contains(a.prevElemSib(e)))
      case PrevAll =>
        elements.exists { e =>
          var c = a.prevElemSib(e)
          var found = false
          while (c >= 0 && !found) { if (ctxSet.contains(c)) found = true; c = a.prevElemSib(c) }
          found
        }
      case Chain => elements.exists(e => ctxSet.contains(e))
      case _ => false
    }
  }

  /** ordered union merge preserving document order (reference add,
    * elements.rs:2634-2790). */
  def addMerge(a: Arena, x: ArrayBuffer[Int], y: ArrayBuffer[Int]): ArrayBuffer[Int] = {
    if (x.isEmpty) return y
    if (y.isEmpty) return x
    val out = new ArrayBuffer[Int](x.length + y.length)
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val c = a.compareDocOrder(x(i), y(j))
      if (c < 0) { out += x(i); i += 1 }
      else if (c > 0) { out += y(j); j += 1 }
      else { out += x(i); i += 1; j += 1 }
    }
    while (i < x.length) { out += x(i); i += 1 }
    while (j < y.length) { out += y(j); j += 1 }
    out
  }

  /** the selector's compounds when every comma group is one
    * descendant-combinator compound of per-element predicates — the shape
    * of boilerplate-strip selectors like `script,style,nav,aside,footer,
    * [hidden]` — else null. */
  def descendantCompounds(sel: Selector): Array[Array[Simple]] =
    if (sel.process.forall(_.query.headOption.forall(_.comb == Combinator.ChildrenAll))) sel.compounds
    else null

  /** execute a full selector from a context set (reference find_selector,
    * elements.rs:1776-1817, incl. should_in verification). */
  def findSelector(doc: VDoc, ctx: ArrayBuffer[Int], sel: Selector): ArrayBuffer[Int] = {
    var result = new ArrayBuffer[Int](0)
    if (ctx.isEmpty) return result
    // fast path: N comma groups of pure descendant predicates fold into ONE
    // depth-first pass — the per-process union in document order is exactly
    // "any compound matches" during the walk (big win for the 7-group strip
    // recipe; semantics unchanged: doc order, unique)
    if (sel.process.lengthCompare(1) > 0) {
      val compounds = descendantCompounds(sel)
      if (compounds != null) {
        val roots = if (ctx.length > 1) uniqueParents(doc.arena, ctx) else ctx
        val out = new ArrayBuffer[Int](8)
        val hit: Int => Unit = out += _
        roots.foreach(forEachMatch(doc, compounds, _, hit))
        return out
      }
    }
    sel.process.foreach { p =>
      var group: ArrayBuffer[Int] = null
      p.shouldIn match {
        case Some(lookup) =>
          val finded = selectSegment(doc, ctx, p.query.head, Some(Combinator.ChildrenAll))
          group = finded.filter(e => hasEle(doc, ctx, e, p.query.head.comb, lookup))
        case None =>
          group = selectSegment(doc, ctx, p.query.head, None)
      }
      var rest = p.query.tail
      while (rest.nonEmpty && group.nonEmpty) {
        group = selectSegment(doc, group, rest.head, None)
        rest = rest.tail
      }
      if (group.nonEmpty) result = addMerge(doc.arena, result, group)
    }
    result
  }

  /** the filter/not/is/is-all family (reference filter_type_handle,
    * elements.rs:919-1003): apply the last compound as a chain over the set,
    * verify any prefix compounds by reverse walk from the tree root. */
  def filterTypeHandle(doc: VDoc, ids: ArrayBuffer[Int], sel: Selector,
      ftype: FilterType.Value): (ArrayBuffer[Int], Boolean) = {
    val a = doc.arena
    var result = new ArrayBuffer[Int](0)
    var allMatched = false
    val it = sel.process.iterator
    var break = false
    while (it.hasNext && !break) {
      val p = it.next()
      val query = p.query
      var filtered = new ArrayBuffer[Int](0)
      if (query.nonEmpty) {
        val lastSeg = query.last
        filtered = selectSegment(doc, ids, lastSeg, Some(Combinator.Chain))
        if (filtered.nonEmpty && query.length > 1) {
          val lookup = query.dropRight(1)
          // verify from each element's OWN tree root: a set may span the
          // document and detached fragments (deepClone results), and a
          // single shared root would wrongly fail every other tree
          filtered = filtered.filter { e =>
            var root = e
            while (a.parent(root) >= 0) root = a.parent(root)
            hasEle(doc, ArrayBuffer(root), e, lastSeg.comb, lookup)
          }
        }
      }
      if (filtered.nonEmpty) {
        if (ftype == FilterType.Is) { allMatched = true; break = true }
        else result = addMerge(a, result, filtered)
      }
    }
    ftype match {
      case FilterType.IsAll => allMatched = result.length == ids.length
      case FilterType.Not =>
        if (result.isEmpty) result = ids.clone()
        else {
          val excl = new java.util.HashSet[Integer]()
          result.foreach(excl.add(_))
          result = ids.filterNot(excl.contains(_))
        }
      case _ => ()
    }
    (result, allMatched)
  }

  def matchesSelector(doc: VDoc, e: Int, sel: Selector): Boolean =
    filterTypeHandle(doc, ArrayBuffer(e), sel, FilterType.Is)._2
}
