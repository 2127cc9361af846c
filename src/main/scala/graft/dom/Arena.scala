package graft.dom

import scala.collection.mutable

/** Flat-array DOM arena — one instance per document, reusable across rows
  * (`reset()`), per the north-star design ("node-id arrays, parent/sibling
  * indices, no heap-pointer soup").
  *
  * Mirrors the node semantics visdom observes from rphtml (reference
  * `src/lib.rs:145-296`): node kinds, `index` = position among the parent's
  * child nodes (`src/lib.rs:152-153`), content tags that hold raw text
  * (`src/lib.rs:141-143`), attributes with original-case keys + lowercase
  * lookup (issue #2, `src/lib.rs:611-633`) and preserved quote style, and
  * byte-identical source re-rendering (`tests/trait.rs:48` source_code).
  *
  * All strings are (offset,len) spans into one shared **UTF-8 byte** buffer:
  * the source bytes plus an overflow region appended by mutations. Working
  * on bytes is safe because every structural delimiter is ASCII and UTF-8
  * continuation bytes can never collide with ASCII (self-synchronizing);
  * case folding is ASCII-only, exactly like the reference's
  * `to_ascii_lowercase`. Parsing a crawl row is then a plain memcpy of the
  * raw bytes — no UTF-16 expansion on the hot path.
  *
  * The renderer (`outerHtml`, `innerHtml`, `sourceCode`, `textChars`)
  * writes UTF-8 into a [[Utf8Builder]] and decodes the whole output once.
  * Its result equals decoding every span on its own and joining the
  * Strings: a well-formed span is copied as raw bytes; a span that is not
  * is appended as its decoded String re-encoded (each malformed sequence
  * becomes U+FFFD, `EF BF BD`). Bytes never join across spans, so a lead
  * byte ending one text node and a continuation byte starting the next
  * stay two U+FFFDs. Each piece is then well-formed, and one decode of the
  * buffer equals the per-span decodes joined. Output that is decoded
  * anyway (the String entries) needs no per-span check: see
  * [[renderString]].
  *
  * Element-name index ([[nameHead]]): one chain per lower-case tag name
  * holding the in-tree elements of that name in document order, built
  * lazily by one pre-order walk from the root over elements (the walk
  * `Engine`'s root-context selectors make; not id order, which inserted
  * and moved nodes break). It is valid
  * while `structVersion` is unchanged: `clearState` and every structural
  * writer — `alloc`/`allocChild`, `appendChild`, `insertBefore` (and so
  * `insertAfter`/`prependChild`), `detach`/`detachAll`, `clearChildren` —
  * bump it, so a read-only document builds the index once however many
  * selectors read it. Name spans change only on nodes just allocated
  * (parser, deep copy), before any query sees them. Its arrays are
  * allocated on the first build, not here, and reused by later builds.
  */
final class Arena(initialNodes: Int = 256, initialAttrs: Int = 64, initialBytes: Int = 1024) {

  // ---- node kinds ----
  final val ROOT: Byte = 0
  final val ELEM: Byte = 1
  final val TEXT: Byte = 2
  final val SPACES: Byte = 3 // whitespace-only text between tags (rphtml SpacesBetweenTag)
  final val COMMENT: Byte = 4
  final val CDATA: Byte = 5
  final val DOCTYPE: Byte = 6
  /** crawl-mode stray close-tag bytes (`</body>` matching an implied or
    * re-enterable element): render-only raw span, invisible to text
    * extraction and selectors — keeps re-render byte-identical when
    * content follows the close and re-enters the element. */
  final val RAWSPAN: Byte = 7

  // ---- element flags ----
  final val F_SELF_CLOSED: Int = 1 // written as `<x/>`
  final val F_SELF_SPACE: Int = 2 // written as `<x />` (space before /)
  final val F_END_TAG: Int = 4 // an explicit end tag was present / should render
  final val F_CONTENT_TAG: Int = 8 // script|style|title|textarea
  final val F_VOID: Int = 16 // HTML void element
  final val F_IMPLIED: Int = 32 // html5Tree-synthesized html/head/body: renders transparently

  var n: Int = 0
  var kind: Array[Byte] = new Array[Byte](initialNodes)
  var parent: Array[Int] = new Array[Int](initialNodes)
  var firstChild: Array[Int] = new Array[Int](initialNodes)
  var lastChild: Array[Int] = new Array[Int](initialNodes)
  var prevSib: Array[Int] = new Array[Int](initialNodes)
  var nextSib: Array[Int] = new Array[Int](initialNodes)
  /** position among parent's child *nodes* (all kinds), maintained on mutation */
  var nodeIdx: Array[Int] = new Array[Int](initialNodes)
  var flags: Array[Int] = new Array[Int](initialNodes)
  var nameOff: Array[Int] = new Array[Int](initialNodes)
  var nameLen: Array[Int] = new Array[Int](initialNodes)
  var textOff: Array[Int] = new Array[Int](initialNodes)
  var textLen: Array[Int] = new Array[Int](initialNodes)
  var attrHead: Array[Int] = new Array[Int](initialNodes) // first attr id or -1

  // attribute pool (linked list per element)
  var an: Int = 0
  var aKeyOff: Array[Int] = new Array[Int](initialAttrs)
  var aKeyLen: Array[Int] = new Array[Int](initialAttrs)
  var aValOff: Array[Int] = new Array[Int](initialAttrs) // -1 => boolean attribute
  var aValLen: Array[Int] = new Array[Int](initialAttrs)
  var aQuote: Array[Char] = new Array[Char](initialAttrs) // 0 => unquoted
  var aNext: Array[Int] = new Array[Int](initialAttrs)
  var aRemoved: Array[Boolean] = new Array[Boolean](initialAttrs)

  // shared UTF-8 byte store: [0, srcLen) = source; [srcLen, bufLen) = overflow
  var buf: Array[Byte] = new Array[Byte](initialBytes)
  var bufLen: Int = 0

  /** document id cache (first element wins), built at parse (reference id
    * fast path `src/mesdoc/rules/id.rs:8-52`). Invalidated (rebuilt) lazily
    * after mutations that add elements. */
  val idMap: mutable.HashMap[String, Int] = new mutable.HashMap[String, Int]()
  var idMapDirty: Boolean = false

  var isDocument: Boolean = false

  /** bumped by every change to the tree's shape; the name index is valid
    * while it is unchanged */
  private var structVersion: Long = 0L

  private def clearState(): Unit = {
    structVersion += 1
    n = 0; an = 0
    idMap.clear(); idMapDirty = false; isDocument = false
  }

  def reset(html: String): Unit = {
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    resetFromUtf8(bytes)
  }

  /** hot path: raw UTF-8 page bytes are the buffer — one memcpy, no decode. */
  def resetFromUtf8(src: Array[Byte]): Unit = {
    clearState()
    if (buf.length < src.length) {
      // compute in Long: highestOneBit*2 overflows negative for >=1GiB
      // inputs; the rounded-up size must never undercut src.length itself
      // (inputs within 8 bytes of Int.MaxValue)
      val want = java.lang.Long.highestOneBit(math.max(1L, src.length.toLong)) * 2L
      buf = new Array[Byte](
        math.max(src.length.toLong, math.min(want, (Int.MaxValue - 8).toLong)).toInt)
    }
    System.arraycopy(src, 0, buf, 0, src.length)
    bufLen = src.length
    val r = alloc(ROOT)
    require(r == 0)
  }

  private def growNodes(): Unit = {
    val cap = kind.length * 2
    kind = java.util.Arrays.copyOf(kind, cap)
    parent = java.util.Arrays.copyOf(parent, cap)
    firstChild = java.util.Arrays.copyOf(firstChild, cap)
    lastChild = java.util.Arrays.copyOf(lastChild, cap)
    prevSib = java.util.Arrays.copyOf(prevSib, cap)
    nextSib = java.util.Arrays.copyOf(nextSib, cap)
    nodeIdx = java.util.Arrays.copyOf(nodeIdx, cap)
    flags = java.util.Arrays.copyOf(flags, cap)
    nameOff = java.util.Arrays.copyOf(nameOff, cap)
    nameLen = java.util.Arrays.copyOf(nameLen, cap)
    textOff = java.util.Arrays.copyOf(textOff, cap)
    textLen = java.util.Arrays.copyOf(textLen, cap)
    attrHead = java.util.Arrays.copyOf(attrHead, cap)
  }

  def alloc(k: Byte): Int = {
    if (n == kind.length) growNodes()
    structVersion += 1
    val id = n; n += 1
    kind(id) = k
    parent(id) = -1; firstChild(id) = -1; lastChild(id) = -1
    prevSib(id) = -1; nextSib(id) = -1; nodeIdx(id) = 0
    flags(id) = 0; nameOff(id) = 0; nameLen(id) = 0
    textOff(id) = 0; textLen(id) = 0; attrHead(id) = -1
    id
  }

  /** fused alloc + appendChild for the parser hot path (FUTURE round-2
    * lever (a)): every field is written exactly once — the split
    * alloc/appendChild pair wrote parent/prevSib/nextSib/nodeIdx twice
    * (clear then overwrite). Semantically identical to
    * `val id = alloc(k); appendChild(p, id); id`. */
  def allocChild(k: Byte, p: Int): Int = {
    if (n == kind.length) growNodes()
    structVersion += 1
    val id = n; n += 1
    kind(id) = k
    parent(id) = p
    firstChild(id) = -1; lastChild(id) = -1
    nextSib(id) = -1
    val last = lastChild(p)
    prevSib(id) = last
    if (last >= 0) { nextSib(last) = id; nodeIdx(id) = nodeIdx(last) + 1 }
    else { firstChild(p) = id; nodeIdx(id) = 0 }
    lastChild(p) = id
    flags(id) = 0; nameOff(id) = 0; nameLen(id) = 0
    textOff(id) = 0; textLen(id) = 0; attrHead(id) = -1
    id
  }

  private def growAttrs(): Unit = {
    val cap = an * 2
    aKeyOff = java.util.Arrays.copyOf(aKeyOff, cap)
    aKeyLen = java.util.Arrays.copyOf(aKeyLen, cap)
    aValOff = java.util.Arrays.copyOf(aValOff, cap)
    aValLen = java.util.Arrays.copyOf(aValLen, cap)
    aQuote = java.util.Arrays.copyOf(aQuote, cap)
    aNext = java.util.Arrays.copyOf(aNext, cap)
    aRemoved = java.util.Arrays.copyOf(aRemoved, cap)
  }

  def allocAttr(): Int = {
    if (an == aKeyOff.length) growAttrs()
    val id = an; an += 1
    aValOff(id) = -1; aValLen(id) = 0; aQuote(id) = 0
    aNext(id) = -1; aRemoved(id) = false
    id
  }

  /** parser-owned attr alloc: the caller sets key/val span and quote
    * unconditionally and links the chain itself (its duplicate-name walk
    * already knows the tail) — only the fields the caller does NOT own are
    * initialized here. */
  def allocAttrRaw(): Int = {
    if (an == aKeyOff.length) growAttrs()
    val id = an; an += 1
    aNext(id) = -1; aRemoved(id) = false
    id
  }

  // ---- byte store helpers ----
  private def ensureBuf(extra: Int): Unit = {
    // Long arithmetic: for >=1 GiB buffers `cap * 2` wraps negative (and
    // sticks at 0 — an infinite loop), and `bufLen + extra` can itself
    // wrap past Int.MaxValue and skip growth entirely
    val need = bufLen.toLong + extra
    if (need > buf.length) {
      var cap = buf.length.toLong * 2
      while (cap < need) cap *= 2
      buf = java.util.Arrays.copyOf(buf,
        math.min(cap, (Int.MaxValue - 8).toLong).toInt)
    }
  }

  /** append a string's UTF-8 bytes; returns offset (length via utf8Len). */
  def appendStr(s: String): Int = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    appendRaw(bytes, 0, bytes.length)
  }

  /** append a string and return its span packed as (off << 32) | byteLen. */
  def appendStrSpan(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val off = appendRaw(bytes, 0, bytes.length)
    (off.toLong << 32) | bytes.length.toLong
  }

  /** set a node's text content from a string (byte span). */
  def setTextSpan(node: Int, s: String): Unit = {
    val span = appendStrSpan(s)
    textOff(node) = (span >> 32).toInt
    textLen(node) = (span & 0xffffffffL).toInt
  }

  def appendRaw(src: Array[Byte], off: Int, len: Int): Int = {
    ensureBuf(len)
    System.arraycopy(src, off, buf, bufLen, len)
    val out = bufLen
    bufLen += len
    out
  }

  /** append bytes from another (or this) arena's buffer. */
  def appendFrom(other: Arena, off: Int, len: Int): Int = {
    ensureBuf(len)
    System.arraycopy(other.buf, off, buf, bufLen, len)
    val out = bufLen
    bufLen += len
    out
  }

  def utf8Len(s: String): Int = {
    // fast count without materializing the byte array for pure-ASCII
    var i = 0
    var ascii = true
    while (i < s.length && ascii) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) s.length
    else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
  }

  def str(off: Int, len: Int): String =
    new String(buf, off, len, java.nio.charset.StandardCharsets.UTF_8)

  def spanEqIgnoreCase(off: Int, len: Int, lower: String): Boolean = {
    // fast path: ASCII `lower` (every internal constant and virtually
    // every real selector) — byte-per-char compare with ASCII folding
    var ascii = true
    var k = 0
    while (ascii && k < lower.length) { if (lower.charAt(k) >= 0x80) ascii = false; k += 1 }
    if (ascii) {
      if (len != lower.length) return false
      var i = 0
      while (i < len) {
        val c = buf(off + i)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        if (lc != lower.charAt(i).toByte) return false
        i += 1
      }
      true
    } else {
      // non-ASCII selector ident (the parser accepts them, matching the
      // reference's to_ascii_lowercase semantics): compare UTF-8 bytes —
      // a char-length/byte-truncating compare could never match
      spanEqIgnoreCase(off, len, lower.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** the span, ASCII-folded to lower case, equals the UTF-8 bytes `lower`
    * (pre-encoded selector operands: no per-call scan of a String). */
  def spanEqIgnoreCase(off: Int, len: Int, lower: Array[Byte]): Boolean = {
    if (len != lower.length) return false
    var i = 0
    while (i < len) {
      if (foldAscii(buf(off + i)) != lower(i)) return false
      i += 1
    }
    true
  }

  /** `lowerName(x) == lowerName(y)` for two elements, read from the name
    * spans with ASCII folding. Names that are not both well-formed UTF-8
    * compare as decoded Strings: the decoder maps distinct malformed
    * sequences (and a literal U+FFFD) to the same replacement char. */
  def sameLowerName(x: Int, y: Int): Boolean = {
    val xo = nameOff(x); val xl = nameLen(x)
    val yo = nameOff(y); val yl = nameLen(y)
    if (Utf8.wellFormed(buf, xo, xl) && Utf8.wellFormed(buf, yo, yl)) {
      if (xl != yl) return false
      var i = 0
      while (i < xl) {
        if (foldAscii(buf(xo + i)) != foldAscii(buf(yo + i))) return false
        i += 1
      }
      true
    } else lowerName(x) == lowerName(y)
  }

  /** hash of the UTF-8 bytes of `lowerName(x)`, consistent with
    * [[sameLowerName]]; read from the span unless it is malformed. */
  def lowerNameHash(x: Int): Int = {
    val off = nameOff(x); val len = nameLen(x)
    if (Utf8.wellFormed(buf, off, len)) Arena.foldedHash(buf, off, len)
    else {
      val b = lowerName(x).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Arena.foldedHash(b, 0, b.length)
    }
  }

  @inline private def foldAscii(c: Byte): Byte = Arena.foldAscii(c)

  /** lowercase tag name of an element ("" for non-elements / root);
    * ASCII fold (reference to_ascii_lowercase semantics). */
  def lowerName(id: Int): String = {
    if (kind(id) != ELEM) return ""
    foldName(id, upper = false)
  }

  /** UPPERCASE tag name — visdom's `tag_name()` (reference
    * `tests/selector.rs:119` asserts "DIV"). */
  def upperName(id: Int): String = foldName(id, upper = true)

  private def foldName(id: Int, upper: Boolean): String = {
    val len = nameLen(id)
    val off = nameOff(id)
    var ascii = true
    var i = 0
    while (i < len && ascii) { if (buf(off + i) < 0) ascii = false; i += 1 }
    if (ascii) {
      val out = new Array[Char](len)
      i = 0
      while (i < len) {
        val c = buf(off + i).toChar
        out(i) =
          if (upper) { if (c >= 'a' && c <= 'z') (c - 32).toChar else c }
          else { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
        i += 1
      }
      new String(out)
    } else {
      val s = str(off, len)
      val sb = new java.lang.StringBuilder(s.length)
      i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        sb.append(
          if (upper) { if (c >= 'a' && c <= 'z') (c - 32).toChar else c }
          else { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c })
        i += 1
      }
      sb.toString
    }
  }

  def isContentTag(id: Int): Boolean = (flags(id) & F_CONTENT_TAG) != 0
  def isElem(id: Int): Boolean = kind(id) == ELEM
  def isTextKind(id: Int): Boolean = kind(id) == TEXT || kind(id) == SPACES

  // ---- attributes ----
  /** find attr id by case-insensitive key; -1 if absent. First occurrence
    * wins (duplicate attrs are dropped at parse; reference `tests/attr.rs:44`). */
  def findAttr(ele: Int, lowerKey: String): Int = {
    var a = attrHead(ele)
    while (a >= 0) {
      if (!aRemoved(a) && spanEqIgnoreCase(aKeyOff(a), aKeyLen(a), lowerKey)) return a
      a = aNext(a)
    }
    -1
  }

  /** [[findAttr]] with the key pre-encoded as UTF-8. */
  def findAttr(ele: Int, lowerKey: Array[Byte]): Int = {
    var a = attrHead(ele)
    while (a >= 0) {
      if (!aRemoved(a) && spanEqIgnoreCase(aKeyOff(a), aKeyLen(a), lowerKey)) return a
      a = aNext(a)
    }
    -1
  }

  def hasAttr(ele: Int, lowerKey: String): Boolean = findAttr(ele, lowerKey) >= 0

  /** attr value or null when absent; "" for boolean attrs is distinguished
    * by `isBooleanAttr`. */
  def attrValue(ele: Int, lowerKey: String): String = {
    val a = findAttr(ele, lowerKey)
    if (a < 0) null
    else if (aValOff(a) < 0) "" // boolean attr -> IAttrValue::True
    else str(aValOff(a), aValLen(a))
  }

  def isBooleanAttr(ele: Int, lowerKey: String): Boolean = {
    val a = findAttr(ele, lowerKey)
    a >= 0 && aValOff(a) < 0
  }

  def appendAttr(ele: Int, a: Int): Unit = {
    var last = attrHead(ele)
    if (last < 0) attrHead(ele) = a
    else {
      while (aNext(last) >= 0) last = aNext(last)
      aNext(last) = a
    }
  }

  // ---- tree structure ----
  def appendChild(p: Int, c: Int): Unit = {
    structVersion += 1
    parent(c) = p
    prevSib(c) = lastChild(p)
    nextSib(c) = -1
    if (lastChild(p) >= 0) { nextSib(lastChild(p)) = c; nodeIdx(c) = nodeIdx(lastChild(p)) + 1 }
    else { firstChild(p) = c; nodeIdx(c) = 0 }
    lastChild(p) = c
  }

  /** renumber nodeIdx for `node` and all following siblings starting at `from`. */
  def renumberFrom(node: Int, from: Int): Unit = {
    var c = node
    var i = from
    while (c >= 0) { nodeIdx(c) = i; i += 1; c = nextSib(c) }
  }

  def detach(c: Int): Unit = {
    val p = parent(c)
    if (p < 0) return
    val nx = nextSib(c)
    unlink(c)
    if (nx >= 0) renumberFrom(nx, nodeIdx(c))
  }

  /** detach every node of `ids` that has a parent, renumbering each touched
    * parent's children once: k single detaches from one parent would each
    * renumber all following siblings, O(k·n). */
  def detachAll(ids: Array[Int]): Unit = {
    val parents = new Array[Int](ids.length)
    var np = 0
    var i = 0
    while (i < ids.length) {
      val c = ids(i)
      val p = parent(c)
      if (p >= 0) { unlink(c); parents(np) = p; np += 1 }
      i += 1
    }
    java.util.Arrays.sort(parents, 0, np)
    i = 0
    while (i < np) {
      val p = parents(i)
      if ((i == 0 || parents(i - 1) != p) && firstChild(p) >= 0) renumberFrom(firstChild(p), 0)
      i += 1
    }
  }

  /** unlink `c` from its parent's child list; nodeIdx of the following
    * siblings is left for the caller to renumber. */
  private def unlink(c: Int): Unit = {
    structVersion += 1
    val p = parent(c)
    val pr = prevSib(c); val nx = nextSib(c)
    if (pr >= 0) nextSib(pr) = nx else firstChild(p) = nx
    if (nx >= 0) prevSib(nx) = pr else lastChild(p) = pr
    parent(c) = -1; prevSib(c) = -1; nextSib(c) = -1
    // the removed subtree may hold the cached holder of a duplicate id:
    // the cache must rebuild from the LIVE tree, or #id lookups return
    // empty / getElementById hands back a detached node
    idMapDirty = true
  }

  /** insert `c` before existing child `ref` (same parent as ref). */
  def insertBefore(ref: Int, c: Int): Unit = {
    structVersion += 1
    val p = parent(ref)
    parent(c) = p
    val pr = prevSib(ref)
    prevSib(c) = pr; nextSib(c) = ref; prevSib(ref) = c
    if (pr >= 0) nextSib(pr) = c else firstChild(p) = c
    renumberFrom(c, if (pr >= 0) nodeIdx(pr) + 1 else 0)
  }

  def insertAfter(ref: Int, c: Int): Unit = {
    val nx = nextSib(ref)
    if (nx < 0) appendChild(parent(ref), c)
    else insertBefore(nx, c)
  }

  def prependChild(p: Int, c: Int): Unit = {
    val f = firstChild(p)
    if (f < 0) appendChild(p, c) else insertBefore(f, c)
  }

  def clearChildren(p: Int): Unit = {
    structVersion += 1
    var c = firstChild(p)
    while (c >= 0) { val nx = nextSib(c); parent(c) = -1; prevSib(c) = -1; nextSib(c) = -1; c = nx }
    firstChild(p) = -1; lastChild(p) = -1
    idMapDirty = true // removed subtrees may hold cached id elements (see detach)
  }

  def childElemCount(p: Int): Int = {
    var c = firstChild(p); var k = 0
    while (c >= 0) { if (kind(c) == ELEM) k += 1; c = nextSib(c) }
    k
  }

  def nextElemSib(id: Int): Int = {
    var c = nextSib(id)
    while (c >= 0 && kind(c) != ELEM) c = nextSib(c)
    c
  }

  def prevElemSib(id: Int): Int = {
    var c = prevSib(id)
    while (c >= 0 && kind(c) != ELEM) c = prevSib(c)
    c
  }

  /** is `anc` a strict ancestor of `node`? */
  def isAncestor(anc: Int, node: Int): Boolean = {
    var p = parent(node)
    while (p >= 0) { if (p == anc) return true; p = parent(p) }
    false
  }

  /** document-order compare via root-to-node index paths (reference
    * `elements.rs:31-64` get_tree_indexs/compare_indexs). */
  def compareDocOrder(a: Int, b: Int): Int = {
    if (a == b) return 0
    val pa = path(a); val pb = path(b)
    var i = 0
    val m = math.min(pa.length, pb.length)
    while (i < m) {
      if (pa(i) != pb(i)) return Integer.compare(pa(i), pb(i))
      i += 1
    }
    Integer.compare(pa.length, pb.length)
  }

  /** root-to-node child-index path (doc-order sort key for Engine). */
  def docOrderPath(id: Int): Array[Int] = path(id)

  private def path(id: Int): Array[Int] = {
    var depth = 0
    var c = id
    while (parent(c) >= 0) { depth += 1; c = parent(c) }
    val out = new Array[Int](depth)
    c = id
    var i = depth - 1
    while (i >= 0) { out(i) = nodeIdx(c); c = parent(c); i -= 1 }
    out
  }

  // ---- id cache ----
  def registerId(idVal: String, ele: Int): Unit =
    if (!idMap.contains(idVal)) idMap.put(idVal, ele)

  def rebuildIdMapIfDirty(): Unit = {
    if (!idMapDirty) return
    idMap.clear()
    def walk(node: Int): Unit = {
      var c = firstChild(node)
      while (c >= 0) {
        if (kind(c) == ELEM) {
          val v = attrValue(c, "id")
          if (v != null && v.nonEmpty) registerId(v, c)
          walk(c)
        }
        c = nextSib(c)
      }
    }
    walk(0)
    idMapDirty = false
  }

  def getElementById(idVal: String): Int = {
    rebuildIdMapIfDirty()
    idMap.getOrElse(idVal, -1)
  }

  // ---- element-name index (class doc) ----
  private var ixVersion: Long = -1L
  /** in-tree elements in document order, by position */
  private var ixPre: Array[Int] = null
  /** per position: the next position of an element of the same name, or -1 */
  private var ixNext: Array[Int] = null
  /** per bucket (one per name): its first and last position, an element
    * of that name, and the name's folded hash */
  private var ixHead: Array[Int] = null
  private var ixTail: Array[Int] = null
  private var ixRep: Array[Int] = null
  private var ixHash: Array[Int] = null
  /** per bucket: the packed name key ([[nameBucket]]), -1 for a long name */
  private var ixKey: Array[Long] = null
  private var ixBuckets: Int = 0
  /** open addressing over buckets: bucket id or -1 */
  private var ixSlots: Array[Int] = null

  /** The first document position of the chain of in-tree elements whose
    * ASCII-folded name equals the UTF-8 bytes `lower` (the relation of
    * `Simple.Tag` matching), or -1 when there is none. Follow the chain in
    * document order with [[nameNext]]; [[nameElem]] gives a position's
    * element, and positions of different chains order by document order.
    * `hash` is `Arena.foldedHash(lower)`. Elements with a name that is not
    * well-formed UTF-8 are in no chain: no operand's bytes equal it. */
  def nameHead(lower: Array[Byte], hash: Int): Int = {
    if (ixVersion != structVersion) buildNameIndex()
    val mask = ixSlots.length - 1
    var s = (hash ^ (hash >>> 16)) & mask
    while (ixSlots(s) >= 0) {
      val b = ixSlots(s)
      if (ixHash(b) == hash && spanEqIgnoreCase(nameOff(ixRep(b)), nameLen(ixRep(b)), lower))
        return ixHead(b)
      s = (s + 1) & mask
    }
    -1
  }

  /** the position after `pos` in its name chain, or -1 */
  def nameNext(pos: Int): Int = ixNext(pos)

  /** the element at a chain position */
  def nameElem(pos: Int): Int = ixPre(pos)

  /** one pre-order walk from the root, descending through elements only,
    * appending each element to its name's chain. */
  private def buildNameIndex(): Unit = {
    if (ixPre == null || ixPre.length < n) {
      val cap = math.max(Integer.highestOneBit(n) * 2, 16) // nodes added later fit
      ixPre = new Array[Int](cap); ixNext = new Array[Int](cap)
    }
    if (ixSlots == null) {
      ixSlots = new Array[Int](64)
      ixHead = new Array[Int](32); ixTail = new Array[Int](32)
      ixRep = new Array[Int](32); ixHash = new Array[Int](32); ixKey = new Array[Long](32)
    }
    java.util.Arrays.fill(ixSlots, -1)
    ixBuckets = 0
    val pre = ixPre; val next = ixNext
    var count = 0
    var c = firstChild(0)
    while (c >= 0) {
      var down = -1
      if (kind(c) == ELEM) {
        val b = nameBucket(c)
        pre(count) = c
        next(count) = -1
        if (b >= 0) {
          val t = ixTail(b)
          if (t >= 0) next(t) = count else ixHead(b) = count
          ixTail(b) = count
        }
        count += 1
        down = firstChild(c)
      }
      if (down >= 0) c = down
      else {
        while (c > 0 && nextSib(c) < 0) c = parent(c)
        c = if (c > 0) nextSib(c) else -1
      }
    }
    ixVersion = structVersion
  }

  /** the bucket of element `e`'s name, added if new; -1 when the name is
    * not well-formed UTF-8. Names of one bucket are equal under
    * [[sameLowerName]], compared here as folded bytes (both well-formed):
    * a name of up to 7 bytes packs them with its length into one `Long`
    * key, so equal keys mean equal names; longer names compare bytes. */
  private def nameBucket(e: Int): Int = {
    val b = buf
    val off = nameOff(e); val len = nameLen(e)
    var h = 1
    var key = 0L
    var ascii = 0
    var i = off
    while (i < off + len) {
      val c = b(i)
      ascii |= c
      val f = if (c >= 'A' && c <= 'Z') c + 32 else c
      h = 31 * h + f
      key = (key << 8) | (f & 0xff)
      i += 1
    }
    key = if (len > 7) -1L else key | (len.toLong << 56)
    if (ascii < 0 && !Utf8.wellFormed(b, off, len)) return -1
    val slots = ixSlots
    val mask = slots.length - 1
    var s = (h ^ (h >>> 16)) & mask
    while (slots(s) >= 0) {
      val k = slots(s)
      if (ixHash(k) == h && (if (key != -1L) ixKey(k) == key else sameFoldedName(ixRep(k), e))) return k
      s = (s + 1) & mask
    }
    addBucket(e, h, key, s)
  }

  /** a new bucket for `e`'s name (hash `h`, free slot `s`) */
  private def addBucket(e: Int, h: Int, key: Long, s: Int): Int = {
    val b = ixBuckets
    if (b == ixRep.length) {
      ixHead = java.util.Arrays.copyOf(ixHead, b * 2)
      ixTail = java.util.Arrays.copyOf(ixTail, b * 2)
      ixRep = java.util.Arrays.copyOf(ixRep, b * 2)
      ixHash = java.util.Arrays.copyOf(ixHash, b * 2)
      ixKey = java.util.Arrays.copyOf(ixKey, b * 2)
    }
    ixRep(b) = e; ixHash(b) = h; ixKey(b) = key; ixHead(b) = -1; ixTail(b) = -1
    ixBuckets += 1
    if (ixBuckets * 2 > ixSlots.length) {
      // rehash every bucket (this one included) into a table twice as large
      ixSlots = new Array[Int](ixSlots.length * 2)
      java.util.Arrays.fill(ixSlots, -1)
      val mask = ixSlots.length - 1
      var k = 0
      while (k < ixBuckets) {
        var t = (ixHash(k) ^ (ixHash(k) >>> 16)) & mask
        while (ixSlots(t) >= 0) t = (t + 1) & mask
        ixSlots(t) = k
        k += 1
      }
    } else ixSlots(s) = b
    b
  }

  /** the two name spans are equal bytes after ASCII folding: exactly
    * [[sameLowerName]] when either name is ASCII (a name that is not
    * well-formed decodes to a U+FFFD, which no ASCII name holds) */
  def sameFoldedName(x: Int, y: Int): Boolean = {
    val xo = nameOff(x); val len = nameLen(x)
    val yo = nameOff(y)
    if (nameLen(y) != len) return false
    var i = 0
    while (i < len) {
      if (foldAscii(buf(xo + i)) != foldAscii(buf(yo + i))) return false
      i += 1
    }
    true
  }

  // ================= text =================

  /** append the UTF-8 span [off, off+len) to a UTF-16 builder (`text()`). */
  def appendSpanTo(off: Int, len: Int, out: java.lang.StringBuilder): Unit = {
    // fast ASCII path; fall back to a decoded String for multi-byte runs
    var i = off
    val end = off + len
    var ascii = true
    while (i < end && ascii) { if (buf(i) < 0) ascii = false else i += 1 }
    if (ascii) {
      i = off
      while (i < end) { out.append(buf(i).toChar); i += 1 }
    } else out.append(str(off, len))
  }

  /** text extraction — reference `src/lib.rs:228-236`: decode entities in
    * text nodes, content tags contribute raw content, comments are skipped
    * inside elements but a comment's own text is its content. */
  def textContent(id: Int, out: java.lang.StringBuilder): Unit = kind(id) match {
    case TEXT | SPACES =>
      Entities.decodeTo(buf, textOff(id), textOff(id) + textLen(id), out)
    case CDATA =>
      appendSpanTo(textOff(id), textLen(id), out) // CDATA is literal character data
    case COMMENT =>
      // a comment node's own text() is its content (inner=true for comments)
      appendSpanTo(textOff(id), textLen(id), out)
    case ELEM if isContentTag(id) =>
      appendSpanTo(textOff(id), textLen(id), out)
      // mutation can append text children to a content tag (reference
      // tests/insertion.rs:124-131: title append -> text "abcd")
      var c = firstChild(id)
      while (c >= 0) {
        if (isTextKind(c)) Entities.decodeTo(buf, textOff(c), textOff(c) + textLen(c), out)
        c = nextSib(c)
      }
    case ELEM | ROOT =>
      var c = firstChild(id)
      while (c >= 0) {
        kind(c) match {
          case TEXT | SPACES =>
            Entities.decodeTo(buf, textOff(c), textOff(c) + textLen(c), out)
          case CDATA =>
            appendSpanTo(textOff(c), textLen(c), out)
          case ELEM =>
            if (isContentTag(c)) appendSpanTo(textOff(c), textLen(c), out)
            else textContent(c, out)
          case _ => () // comments skipped inside elements
        }
        c = nextSib(c)
      }
    case _ => ()
  }

  def text(id: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    textContent(id, sb)
    sb.toString
  }

  /** text extraction straight to UTF-8 bytes — entity-free runs are pure
    * memcpy now that spans are bytes (same traversal rules as textContent —
    * kept in lockstep, see PropertySpec cross-check). */
  def textContentUtf8(id: Int, out: Utf8Builder): Unit = textUtf8(id, out, check = false)

  /** [[textContentUtf8]] that stops and returns false at the first run
    * (text node, CDATA or content-tag span) that is not well-formed UTF-8
    * on its own. When it returns true, `out` holds exactly the UTF-8
    * encoding of `text(id)`; `textContent` decodes run by run, so a lead
    * byte ending one node and continuation bytes starting the next decode
    * to U+FFFDs there, and must not be judged as one joined character. */
  def textContentUtf8Checked(id: Int, out: Utf8Builder): Boolean = textUtf8(id, out, check = true)

  /** the UTF-8 encoding of `text(id)`: runs copied as bytes, or, when one
    * of them is malformed on its own, the decoded text re-encoded. */
  def textUtf8Exact(id: Int, out: Utf8Builder): Unit = {
    val mark = out.len
    if (!textContentUtf8Checked(id, out)) {
      out.len = mark
      out.appendString(text(id))
    }
  }

  private def textUtf8(id: Int, out: Utf8Builder, check: Boolean): Boolean = kind(id) match {
    case TEXT | SPACES => textRunUtf8(id, out, check)
    case CDATA | COMMENT => spanUtf8(id, out, check)
    case ELEM if isContentTag(id) =>
      if (!spanUtf8(id, out, check)) return false
      var c = firstChild(id)
      while (c >= 0) {
        if (isTextKind(c) && !textRunUtf8(c, out, check)) return false
        c = nextSib(c)
      }
      true
    case ELEM | ROOT =>
      var c = firstChild(id)
      while (c >= 0) {
        val ok = kind(c) match {
          case TEXT | SPACES => textRunUtf8(c, out, check)
          case CDATA => spanUtf8(c, out, check)
          case ELEM =>
            if (isContentTag(c)) spanUtf8(c, out, check)
            else textUtf8(c, out, check)
          case _ => true
        }
        if (!ok) return false
        c = nextSib(c)
      }
      true
    case _ => true
  }

  // a text run's raw span is well-formed exactly when each entity-split
  // sub-run is: the splits fall on ASCII bytes, which no sequence spans
  @inline private def textRunUtf8(id: Int, out: Utf8Builder, check: Boolean): Boolean = {
    val off = textOff(id); val len = textLen(id)
    if (check && !Utf8.wellFormed(buf, off, len)) return false
    Entities.decodeToUtf8(buf, off, off + len, out)
    true
  }

  @inline private def spanUtf8(id: Int, out: Utf8Builder, check: Boolean): Boolean = {
    val off = textOff(id); val len = textLen(id)
    if (check && !Utf8.wellFormed(buf, off, len)) return false
    out.appendBytes(buf, off, len)
    true
  }

  // ================= render =================

  /** raw characters without entity decoding (reference text_chars,
    * `src/lib.rs:240-245`; inner only for elements). */
  def textChars(id: Int): String = kind(id) match {
    case TEXT | SPACES | CDATA => str(textOff(id), textLen(id))
    case ELEM | ROOT | COMMENT => renderString(textCharsTo(id, _, checked = false))
    case _ => ""
  }

  /** [[textChars]] of `id` appended to UTF-8 output. */
  def textCharsTo(id: Int, out: Utf8Builder, checked: Boolean): Unit = kind(id) match {
    case TEXT | SPACES | CDATA => appendSpan(textOff(id), textLen(id), out, checked)
    case ELEM | ROOT => renderInner(id, out, encodeContent = false, checked)
    case COMMENT =>
      out.appendAscii("<!--"); appendSpan(textOff(id), textLen(id), out, checked); out.appendAscii("-->")
    case _ => ()
  }

  /** the String that `render` writes unchecked (`checked = false`: spans
    * copied raw unless they start on a continuation byte), decoded once.
    * It equals the per-span decodes joined. Java's UTF-8 decoder replaces
    * each maximal ill-formed subpart with one U+FFFD (Unicode §3.9), and a
    * subpart never takes in a byte that cannot continue it. Every piece
    * after a span starts on a byte that is not a continuation byte: ASCII
    * markup, or a span, which is decoded on its own when it starts on
    * one. So no subpart crosses a span's end, and each span decodes as it
    * would alone. The buffer starts at `initial` bytes (a node's output
    * can be any fraction of the document) and grows by doubling. */
  def renderString(render: Utf8Builder => Unit, initial: Int = 64): String = {
    val out = new Utf8Builder(initial)
    render(out)
    out.toUtf8String
  }

  /** append the span [off, off+len): raw bytes when well-formed, else its
    * decoded String re-encoded. `checked = true` gives the exact bytes
    * (class doc); unchecked, only a span that starts on a continuation
    * byte (never well-formed) is checked, for output decoded as a whole
    * ([[renderString]]). */
  private def appendSpan(off: Int, len: Int, out: Utf8Builder, checked: Boolean): Unit =
    if (len > 0 && (checked || (buf(off) & 0xc0) == 0x80) && !Utf8.wellFormed(buf, off, len))
      out.appendString(str(off, len))
    else out.appendBytes(buf, off, len)

  /** render one node incl. its own markup. Attribute quotes are ASCII:
    * the parser and `setAttr` store only `"` or `'`. */
  def renderNode(id: Int, out: Utf8Builder, encodeContent: Boolean, checked: Boolean): Unit = kind(id) match {
    case TEXT | SPACES =>
      if (encodeContent) encodeLtGt(textOff(id), textLen(id), out, checked)
      else appendSpan(textOff(id), textLen(id), out, checked)
    case COMMENT =>
      out.appendAscii("<!--"); appendSpan(textOff(id), textLen(id), out, checked); out.appendAscii("-->")
    case CDATA =>
      out.appendAscii("<![CDATA["); appendSpan(textOff(id), textLen(id), out, checked); out.appendAscii("]]>")
    case DOCTYPE => appendSpan(textOff(id), textLen(id), out, checked) // raw incl. <! >
    case RAWSPAN => appendSpan(textOff(id), textLen(id), out, checked) // stray close tag, verbatim
    case ROOT => renderInner(id, out, encodeContent, checked)
    case ELEM if (flags(id) & F_IMPLIED) != 0 =>
      // an implied (parser-synthesized) element has no source OPEN tag:
      // render children only, so html5Tree-mode re-render stays
      // byte-identical to the input. A stray close tag in the source
      // (`</body>` with no explicit open — endTag matched the implied
      // element and set F_END_TAG) DID contribute bytes, so it renders.
      renderInner(id, out, encodeContent, checked)
      if ((flags(id) & F_END_TAG) != 0) renderEndTag(id, out, checked)
    case ELEM =>
      out.appendByte('<'); appendSpan(nameOff(id), nameLen(id), out, checked)
      var a = attrHead(id)
      while (a >= 0) {
        if (!aRemoved(a)) {
          out.appendByte(' '); appendSpan(aKeyOff(a), aKeyLen(a), out, checked)
          if (aValOff(a) >= 0) {
            out.appendByte('=')
            val q = aQuote(a).toByte
            if (q != 0) out.appendByte(q)
            appendSpan(aValOff(a), aValLen(a), out, checked)
            if (q != 0) out.appendByte(q)
          }
        }
        a = aNext(a)
      }
      if ((flags(id) & F_SELF_CLOSED) != 0) {
        if ((flags(id) & F_SELF_SPACE) != 0) out.appendByte(' ')
        out.appendByte('/')
        out.appendByte('>')
      } else {
        out.appendByte('>')
        if (isContentTag(id)) renderContentTagInner(id, out, checked)
        else renderInner(id, out, encodeContent, checked)
        if ((flags(id) & F_END_TAG) != 0) renderEndTag(id, out, checked)
      }
    case _ => ()
  }

  private def renderEndTag(id: Int, out: Utf8Builder, checked: Boolean): Unit = {
    out.appendByte('<'); out.appendByte('/')
    appendSpan(nameOff(id), nameLen(id), out, checked)
    out.appendByte('>')
  }

  def renderInner(id: Int, out: Utf8Builder, encodeContent: Boolean, checked: Boolean): Unit = {
    if (kind(id) == ELEM && isContentTag(id)) {
      renderContentTagInner(id, out, checked)
      return
    }
    var c = firstChild(id)
    while (c >= 0) { renderNode(c, out, encodeContent, checked); c = nextSib(c) }
  }

  /** a content tag renders its raw text span PLUS any text children a
    * mutation appended (reference tests/insertion.rs:124-131 lets append
    * add text nodes to content tags and text() includes them — render
    * must agree with text(), or the appended text would vanish from
    * html()/sourceCode while surviving in text()). Raw, never encoded:
    * content-tag bodies are literal character data. */
  private def renderContentTagInner(id: Int, out: Utf8Builder, checked: Boolean): Unit = {
    appendSpan(textOff(id), textLen(id), out, checked)
    var c = firstChild(id)
    while (c >= 0) {
      if (kind(c) == TEXT || kind(c) == SPACES)
        appendSpan(textOff(c), textLen(c), out, checked)
      c = nextSib(c)
    }
  }

  /** encode raw `<`/`>` that entered text content via lenient parsing or raw
    * text mutation; stored entities stay intact (render encode_content).
    * The runs between them are spans of their own, as they always were. */
  private def encodeLtGt(off: Int, len: Int, out: Utf8Builder, checked: Boolean): Unit = {
    var i = off
    val end = off + len
    var runStart = off
    while (i < end) {
      val b = buf(i)
      if (b == '<' || b == '>') {
        if (i > runStart) appendSpan(runStart, i - runStart, out, checked)
        out.appendAscii(if (b == '<') "&lt;" else "&gt;")
        runStart = i + 1
      }
      i += 1
    }
    if (i > runStart) appendSpan(runStart, i - runStart, out, checked)
  }

  def innerHtml(id: Int): String =
    renderString(renderInner(id, _, encodeContent = true, checked = false))

  def outerHtml(id: Int): String =
    renderString(renderNode(id, _, encodeContent = true, checked = false))

  /** the whole document re-rendered; its output is about `bufLen` long. */
  def sourceCode(): String =
    renderString(renderInner(0, _, encodeContent = false, checked = false), bufLen + 64)
}

object Arena {
  @inline def foldAscii(c: Byte): Byte = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c

  /** the hash of `b[off, off+len)` folded to ASCII lower case:
    * `lowerNameHash` of a well-formed name, and the key of the
    * element-name index */
  def foldedHash(b: Array[Byte], off: Int, len: Int): Int = {
    var h = 1
    var i = 0
    while (i < len) { h = 31 * h + foldAscii(b(off + i)); i += 1 }
    h
  }
}
