package graft.query

import graft.dom.{Entities, Utf8Builder}
import graft.html.{ParseOptions, Parser}
import graft.selector.{Combinator, Selector, Segment, Simple}
import scala.collection.mutable.ArrayBuffer

/** The jQuery-style matched set — visdom's `Elements`
  * (reference `src/mesdoc/interface/elements.rs`): an ordered,
  * document-order, duplicate-free sequence of element handles carrying the
  * full traversal / filter / content / attribute / mutation API.
  *
  * `doc` and `ids` are vars because mutation methods that move nodes across
  * documents rebind the handle set to the destination tree, matching the
  * reference's shared-`Rc` move semantics (`tests/insertion.rs:47-94`).
  */
final class Elems(var doc: VDoc, var ids: Array[Int]) {
  import Engine.FilterType

  private def a = doc.arena
  private def buf(ids: ArrayBuffer[Int]): Elems = new Elems(doc, ids.toArray)
  private def arrBuf: ArrayBuffer[Int] = ArrayBuffer.from(ids)
  private def emptySet: Elems = new Elems(doc, Array.emptyIntArray)

  def length: Int = ids.length
  def isEmpty: Boolean = ids.isEmpty
  def nonEmpty: Boolean = ids.nonEmpty
  def get(i: Int): Option[Int] = if (i >= 0 && i < ids.length) Some(ids(i)) else None

  // ---- error channel ----
  private def err(method: String, msg: String): Unit =
    doc.reportError(s"$method: $msg")

  private def parsed(method: String, selector: String, useLookup: Boolean): Option[Selector] =
    Selector.parse(selector, useLookup) match {
      case Right(s) => Some(s)
      case Left(e) => err(method, e); None
    }

  // ================= traversal =================

  def find(selector: String): Elems =
    parsed("find", selector, useLookup = true) match {
      case Some(sel) => buf(Engine.findSelector(doc, arrBuf, sel))
      case None => emptySet
    }

  /** head-combinator methods (reference select_with_comb, elements.rs:502-512) */
  private def selectWithComb(method: String, selector: String, comb: Combinator.Value): Elems = {
    if (selector.isEmpty)
      return buf(Engine.findSelector(doc, arrBuf, Selector.allWith(comb)))
    parsed(method, selector, useLookup = false) match {
      case Some(sel) => buf(Engine.findSelector(doc, arrBuf, sel.withHeadCombinator(comb)))
      case None => emptySet
    }
  }

  def children(selector: String): Elems = selectWithComb("children", selector, Combinator.Children)
  def parent(selector: String): Elems = selectWithComb("parent", selector, Combinator.Parent)
  def parents(selector: String): Elems = selectWithComb("parents", selector, Combinator.ParentAll)
  def prev(selector: String): Elems = selectWithComb("prev", selector, Combinator.Prev)
  def prevAll(selector: String): Elems = selectWithComb("prev_all", selector, Combinator.PrevAll)
  def next(selector: String): Elems = selectWithComb("next", selector, Combinator.Next)
  def nextAll(selector: String): Elems = selectWithComb("next_all", selector, Combinator.NextAll)

  /** *_until family (reference select_with_comb_until, elements.rs:515-583).
    * `starts` is the caller's deduped start set (the reference dedups with
    * unique_sibling_first/last BEFORE walking: sibling runs share their
    * whole walk, so un-deduped starts would emit duplicates). */
  private def selectUntil(method: String, starts: Array[Int], selector: String,
      filter: String, contains: Boolean, comb: Combinator.Value): Elems = {
    val untilSel = parsed(method, selector, useLookup = false).getOrElse(return emptySet)
    val filterSel: Option[Selector] =
      if (filter.isEmpty) None
      else Some(parsed(method, filter, useLookup = false).getOrElse(return emptySet))
    val next = Selector.allWith(comb)
    val result = new ArrayBuffer[Int]()
    starts.foreach { start =>
      var cur = ArrayBuffer(start)
      var go = true
      while (go) {
        cur = Engine.findSelector(doc, cur, next)
        if (cur.isEmpty) go = false
        else {
          val meetUntil = Engine.filterTypeHandle(doc, cur, untilSel, FilterType.Is)._2
          if (meetUntil && !contains) go = false
          else {
            val shouldAdd = filterSel.forall(f =>
              Engine.filterTypeHandle(doc, cur, f, FilterType.Is)._2)
            if (shouldAdd) result += cur(0)
            if (meetUntil) go = false
          }
        }
      }
    }
    buf(result)
  }

  def prevUntil(selector: String, filter: String, contains: Boolean): Elems = {
    // reference elements.rs:1367-1377: unique_sibling_LAST starts, then
    // whole-result reverse, exactly like reference prev_until
    // (elements.rs: "should reverse the result when length > 1") — note
    // this restores document order per walk CHAIN only; multi-parent
    // start sets come back group-reversed in the reference too
    val starts = Engine.uniqueSibling(a, ArrayBuffer.from(ids), first = false)
    val r = selectUntil("prev_until", starts.toArray, selector, filter, contains, Combinator.Prev)
    new Elems(doc, r.ids.reverse)
  }
  def nextUntil(selector: String, filter: String, contains: Boolean): Elems = {
    // reference elements.rs:1479-1482: unique_sibling_first starts
    val starts = Engine.uniqueSibling(a, ArrayBuffer.from(ids), first = true)
    selectUntil("next_until", starts.toArray, selector, filter, contains, Combinator.Next)
  }
  def parentsUntil(selector: String, filter: String, contains: Boolean): Elems = {
    // reference elements.rs:1673-1687: unique_sibling_first starts and a
    // SORT-AND-UNIQUE result (shared ancestors of a multi-element set
    // would otherwise duplicate; plain reversal only fixes one chain)
    val starts = Engine.uniqueSibling(a, ArrayBuffer.from(ids), first = true)
    val r = selectUntil("parents_until", starts.toArray, selector, filter, contains, Combinator.Parent)
    new Elems(doc, Engine.sortAndUnique(a, ArrayBuffer.from(r.ids)).toArray)
  }

  /** nearest self-or-ancestor match; empty selector yields empty
    * (reference elements.rs:1719-1774, tests/method.rs:695-718). */
  def closest(selector: String): Elems = {
    if (selector.isEmpty) return emptySet
    val sel = parsed("closest", selector, useLookup = false).getOrElse(return emptySet)
    val out = new ArrayBuffer[Int]()
    ids.foreach { e =>
      var cur = e
      var found = -1
      while (cur >= 0 && found < 0) {
        if (a.kind(cur) == a.ELEM && Engine.matchesSelector(doc, cur, sel)) found = cur
        cur = a.parent(cur)
      }
      if (found >= 0) out += found
    }
    buf(Engine.sortAndUnique(a, out))
  }

  /** siblings with the sibling-group dedup (reference elements.rs:1515-1566;
    * two selected siblings => the whole parent.children list). */
  def siblings(selector: String): Elems = {
    val sel: Option[Selector] =
      if (selector.isEmpty) None
      else Some(parsed("siblings", selector, useLookup = false).getOrElse(return emptySet))
    val out = new ArrayBuffer[Int]()
    Engine.uniqueAllSiblings(a, arrBuf).foreach { case (e, isParent) =>
      val set = if (isParent) Engine.elementChildren(a, e) else Engine.siblingsOf(a, e)
      sel match {
        case None => out ++= set
        case Some(s) => out ++= Engine.filterTypeHandle(doc, set, s, FilterType.Filter)._1
      }
    }
    buf(Engine.sortAndUnique(a, out))
  }

  // ================= filter family =================

  def filter(selector: String): Elems =
    parsed("filter", selector, useLookup = false) match {
      case Some(sel) => buf(Engine.filterTypeHandle(doc, arrBuf, sel, FilterType.Filter)._1)
      case None => emptySet
    }

  def filterBy(handle: (Int, Int) => Boolean): Elems = {
    val out = new ArrayBuffer[Int]()
    var i = 0
    while (i < ids.length) { if (handle(i, ids(i))) out += ids(i); i += 1 }
    buf(out)
  }

  def filterIn(search: Elems): Elems =
    if (search.doc ne doc) emptySet
    else {
      val s = search.ids.toSet
      buf(arrBuf.filter(s.contains))
    }

  def not(selector: String): Elems =
    parsed("not", selector, useLookup = false) match {
      case Some(sel) => buf(Engine.filterTypeHandle(doc, arrBuf, sel, FilterType.Not)._1)
      case None => emptySet
    }

  def notBy(handle: (Int, Int) => Boolean): Elems = filterBy((i, e) => !handle(i, e))

  def notIn(search: Elems): Elems =
    if (search.doc ne doc) new Elems(doc, ids.clone())
    else {
      val s = search.ids.toSet
      buf(arrBuf.filterNot(s.contains))
    }

  def is(selector: String): Boolean =
    parsed("is", selector, useLookup = false)
      .exists(sel => Engine.filterTypeHandle(doc, arrBuf, sel, FilterType.Is)._2)

  def isBy(handle: (Int, Int) => Boolean): Boolean =
    ids.indices.exists(i => handle(i, ids(i)))

  def isIn(search: Elems): Boolean =
    (search.doc eq doc) && { val s = search.ids.toSet; ids.exists(s.contains) }

  def isAll(selector: String): Boolean =
    parsed("is_all", selector, useLookup = false)
      .exists(sel => Engine.filterTypeHandle(doc, arrBuf, sel, FilterType.IsAll)._2)

  def isAllBy(handle: (Int, Int) => Boolean): Boolean =
    ids.nonEmpty && ids.indices.forall(i => handle(i, ids(i)))

  def isAllIn(search: Elems): Boolean =
    (search.doc eq doc) && ids.nonEmpty && {
      val s = search.ids.toSet; ids.forall(s.contains)
    }

  /** keep elements having a matching descendant (reference
    * elements.rs:2347-2367). */
  def has(selector: String): Elems =
    parsed("has", selector, useLookup = false) match {
      case Some(sel) =>
        buf(arrBuf.filter(e => Engine.findSelector(doc, ArrayBuffer(e), sel).nonEmpty))
      case None => emptySet
    }

  def hasIn(search: Elems): Elems =
    if (search.doc ne doc) emptySet
    else buf(arrBuf.filter(e => search.ids.exists(x => a.isAncestor(e, x))))

  // ================= positional =================

  def eq(index: Int): Elems =
    if (index >= 0 && index < ids.length) new Elems(doc, Array(ids(index))) else emptySet
  def first(): Elems = eq(0)
  def last(): Elems = eq(ids.length - 1)

  def slice(from: Int, until: Int): Elems = {
    val f = math.max(0, from)
    val u = math.min(ids.length, until)
    if (f >= u) emptySet else new Elems(doc, ids.slice(f, u))
  }

  /** ordered union merge (reference add, elements.rs:2634-2790). */
  def add(other: Elems): Elems =
    if (other.isEmpty || (other.doc ne doc)) new Elems(doc, ids.clone())
    else buf(Engine.addMerge(a, arrBuf, ArrayBuffer.from(other.ids)))

  def forEach(handle: (Int, Int) => Boolean): Elems = {
    var i = 0
    var go = true
    while (i < ids.length && go) { go = handle(i, ids(i)); i += 1 }
    this
  }

  def map[T](handle: (Int, Int) => T): Seq[T] =
    ids.indices.map(i => handle(i, ids(i)))

  /** relationship test (reference contains/has_ele, elements.rs:1871-1953). */
  def containsEle(ele: Int, comb: Combinator.Value): Boolean =
    Engine.hasEle(doc, arrBuf, ele, comb, Nil)

  // ================= content =================

  /** THE parity column — concat of per-element decoded text
    * (reference elements.rs:2897-2903, src/lib.rs:228-236). Builder
    * pre-sized near the document size to avoid growth copies. */
  def text(): String = {
    val sb = new java.lang.StringBuilder(math.min(math.max(64, a.bufLen), 1 << 20))
    ids.foreach(e => a.textContent(e, sb))
    sb.toString
  }

  def textChars(): String = renderAll(a.textCharsTo(_, _, checked = false))

  def html(): String = if (ids.isEmpty) "" else a.innerHtml(ids(0))
  def htmls(): String = renderAll(a.renderInner(_, _, encodeContent = true, checked = false))
  def outerHtml(): String = if (ids.isEmpty) "" else a.outerHtml(ids(0))
  def outerHtmls(): String = renderAll(a.renderNode(_, _, encodeContent = true, checked = false))

  /** every element rendered into one UTF-8 buffer, decoded once. */
  private def renderAll(render: (Int, Utf8Builder) => Unit): String =
    if (ids.isEmpty) "" else a.renderString(out => ids.foreach(render(_, out)))

  /** set_text: encode + single text child; content tags raw
    * (reference src/lib.rs:247-296). */
  def setText(content: String): Elems = {
    ids.foreach { e =>
      a.kind(e) match {
        case k if k == a.ELEM =>
          if (a.isContentTag(e)) {
            if (content.isEmpty) { a.textOff(e) = 0; a.textLen(e) = 0 }
            else a.setTextSpan(e, content)
          } else {
            a.clearChildren(e)
            if (content.nonEmpty) {
              val enc = Entities.encodeSpecial(content)
              val t = a.alloc(a.TEXT)
              a.setTextSpan(t, enc)
              a.appendChild(e, t)
            }
          }
        case k if k == a.TEXT || k == a.SPACES || k == a.COMMENT =>
          if (content.isEmpty)
            err("set_text", "the text parameter can't be empty")
          else a.setTextSpan(e, content)
        case _ => ()
      }
    }
    this
  }

  /** set_html: content tags raw; others parse a fragment with the lenient
    * sub-profile and splice, dropping dis-allowed children
    * (reference src/lib.rs:298-393). */
  def setHtml(content: String): Elems = {
    ids.foreach(e => Mutation.setHtmlOn(doc, e, content))
    this
  }

  /** form value (reference src/lib.rs:461-555). Multiple values joined by
    * ',' in to_string (tests/content.rs:150). */
  def valList(): Seq[String] = {
    if (ids.isEmpty) return Seq("")
    val e = ids(0)
    if (a.kind(e) != a.ELEM) return Seq("")
    a.lowerName(e) match {
      case "input" | "option" =>
        val v = a.attrValue(e, "value")
        Seq(if (v == null || a.isBooleanAttr(e, "value")) "" else v)
      case "textarea" => Seq(a.text(e))
      case "select" =>
        val isMultiple = a.hasAttr(e, "multiple")
        var defaultValue: String = null
        val values = new ArrayBuffer[String]()
        def collect(parent: Int, level: Int): Boolean = { // returns true to break
          var c = a.firstChild(parent)
          while (c >= 0) {
            if (a.kind(c) == a.ELEM) {
              if (a.lowerName(c) == "option") {
                val isSelected = a.hasAttr(c, "selected")
                if (isSelected || (defaultValue == null && level == 0)) {
                  val v = {
                    val x = a.attrValue(c, "value")
                    if (x == null || a.isBooleanAttr(c, "value")) "" else x
                  }
                  if (isSelected) {
                    values += v
                    if (!isMultiple) return true
                  } else defaultValue = v
                }
              } else {
                if (collect(c, level + 1)) return true
              }
            }
            c = a.nextSib(c)
          }
          false
        }
        collect(e, 0)
        if (isMultiple) values.toSeq
        else if (values.nonEmpty) Seq(values(0))
        else Seq(if (defaultValue == null) "" else defaultValue)
      case _ => Seq("")
    }
  }

  def valString(): String = valList().mkString(",")

  // ================= texts =================

  /** collect text nodes DFS to a depth (0 = unlimited); content tags become
    * text handles whose node type stays Element
    * (reference texts_by_rec, src/lib.rs:997-1069). */
  def textsByRec(limitDepth: Int, handle: (Int, Int) => Boolean,
      recHandle: Int => Boolean): Texts = {
    val limit = if (limitDepth == 0) Int.MaxValue else limitDepth
    val out = new ArrayBuffer[Int]()
    def loop(ele: Int, curDepth: Int): Unit = {
      var c = a.firstChild(ele)
      if (c < 0) {
        if (a.kind(ele) == a.ELEM && a.isContentTag(ele) && curDepth == 0) {
          if (handle(curDepth, ele)) out += ele
        }
        return
      }
      val nextDepth = curDepth + 1
      val recursive = nextDepth < limit
      while (c >= 0) {
        a.kind(c) match {
          case k if k == a.TEXT || k == a.SPACES =>
            if (handle(curDepth, c)) out += c
          case k if k == a.ELEM =>
            if (a.isContentTag(c)) {
              if (handle(curDepth, c)) out += c
            } else if (recursive && recHandle(c)) loop(c, nextDepth)
          case _ => ()
        }
        c = a.nextSib(c)
      }
    }
    ids.foreach { e =>
      if (a.kind(e) == a.ELEM && a.isContentTag(e) && a.firstChild(e) < 0) {
        if (handle(0, e)) out += e
      } else loop(e, 0)
    }
    new Texts(doc, out.toArray)
  }

  def texts(limitDepth: Int): Texts =
    textsByRec(limitDepth, (_, _) => true, _ => true)

  def textsBy(limitDepth: Int, handle: (Int, Int) => Boolean): Texts =
    textsByRec(limitDepth, handle, _ => true)

  // ================= attributes / classes =================

  def attr(name: String): Option[AttrVal] = {
    if (ids.isEmpty) return None
    val e = ids(0)
    if (a.kind(e) != a.ELEM) return None
    val idx = a.findAttr(e, name.toLowerCase)
    if (idx < 0) None
    else if (a.aValOff(idx) < 0) Some(AttrVal(isTrue = true, ""))
    else Some(AttrVal(isTrue = false, a.str(a.aValOff(idx), a.aValLen(idx))))
  }

  def hasAttr(name: String): Boolean = {
    val lower = name.toLowerCase
    ids.exists(e => a.kind(e) == a.ELEM && a.hasAttr(e, lower))
  }

  /** set_attribute with quote auto-selection + same-quote escaping
    * (reference src/lib.rs:665-731). */
  def setAttr(name: String, value: Option[String]): Elems = {
    ids.foreach { e =>
      if (a.kind(e) == a.ELEM) Mutation.setAttribute(doc, e, name, value)
    }
    this
  }

  def removeAttr(name: String): Elems = {
    val lower = name.toLowerCase
    ids.foreach { e =>
      if (a.kind(e) == a.ELEM) {
        val idx = a.findAttr(e, lower)
        if (idx >= 0) {
          a.aRemoved(idx) = true
          if (lower == "id") a.idMapDirty = true
        }
      }
    }
    this
  }

  def hasClass(name: String): Boolean = {
    // reference has_class (elements.rs:3328-3331): a trimmed-empty name is
    // false, never vacuously true
    val wanted = name.split("\\s+").filter(_.nonEmpty)
    wanted.nonEmpty && ids.exists { e =>
      val v = if (a.kind(e) == a.ELEM) a.attrValue(e, "class") else null
      v != null && wanted.forall(w => Engine.classListContains(v, w))
    }
  }

  /** class mutations follow the reference's write conditions exactly
    * (elements.rs:3381-3523): an empty/whitespace name is a no-op; add on
    * an element WITHOUT a class attr creates it with the RAW untrimmed
    * input (add_class passes `class_name` through, elements.rs:3399) while
    * toggle creates it with the trimmed name (toggle_class trims first,
    * elements.rs:3487); remove never creates the attr and only writes
    * when something was actually removed; toggle writes only on change —
    * so `removeClass` can never materialize `class=""` and an unchanged
    * element's attr value is never whitespace-normalized as a side
    * effect. */
  private def classMutate(name: String, createWhenMissing: Boolean,
      missingWritesRaw: Boolean = false)(f: (ArrayBuffer[String], Seq[String]) => Boolean): Elems = {
    val trimmed = name.trim
    val args = trimmed.split("\\s+").filter(_.nonEmpty).toSeq
    if (args.isEmpty) return this
    ids.foreach { e =>
      if (a.kind(e) == a.ELEM) {
        val cur = a.attrValue(e, "class")
        if (cur == null) {
          if (createWhenMissing)
            Mutation.setAttribute(doc, e, "class",
              Some(if (missingWritesRaw) name else trimmed))
        } else {
          val list = new ArrayBuffer[String]()
          cur.split("\\s+").filter(_.nonEmpty).foreach(list += _)
          if (f(list, args))
            Mutation.setAttribute(doc, e, "class", Some(list.mkString(" ")))
        }
      }
    }
    this
  }

  def addClass(name: String): Elems =
    classMutate(name, createWhenMissing = true, missingWritesRaw = true) { (list, args) =>
      args.foreach(c => if (!list.contains(c)) list += c)
      true // reference add_class writes unconditionally when the attr exists
    }

  def removeClass(name: String): Elems =
    classMutate(name, createWhenMissing = false) { (list, args) =>
      val before = list.length
      args.foreach(c => list.subtractOne(c))
      list.length != before
    }

  def toggleClass(name: String): Elems =
    classMutate(name, createWhenMissing = true) { (list, args) =>
      var changed = false
      args.foreach { c =>
        if (list.contains(c)) list.subtractOne(c) else list += c
        changed = true
      }
      changed
    }

  // ================= mutation =================

  /** detach every element, then renumber each touched parent once. */
  def remove(): Elems = {
    a.detachAll(ids)
    this
  }

  /** clear children — same as set_text("") (reference elements.rs:3654). */
  def empty(): Elems = {
    ids.foreach { e =>
      if (a.kind(e) == a.ELEM) {
        if (a.isContentTag(e)) { a.textOff(e) = 0; a.textLen(e) = 0 }
        else a.clearChildren(e)
      }
    }
    this
  }

  def append(nodes: Elems): Elems = { Mutation.insert(this, nodes, Mutation.BeforeEnd); this }
  def appendTo(target: Elems): Elems = { Mutation.insert(target, this, Mutation.BeforeEnd); this }
  def prepend(nodes: Elems): Elems = { Mutation.insert(this, nodes, Mutation.AfterBegin); this }
  def prependTo(target: Elems): Elems = { Mutation.insert(target, this, Mutation.AfterBegin); this }
  def insertBefore(target: Elems): Elems = { Mutation.insert(target, this, Mutation.BeforeBegin); this }
  def before(nodes: Elems): Elems = { Mutation.insert(this, nodes, Mutation.BeforeBegin); this }
  def insertAfter(target: Elems): Elems = { Mutation.insert(target, this, Mutation.AfterEnd); this }
  def after(nodes: Elems): Elems = { Mutation.insert(this, nodes, Mutation.AfterEnd); this }

  def replaceWith(nodes: Elems): Elems = { Mutation.replaceWith(this, nodes); this }

  /** deep copy (reference `clone`, elements.rs:3571-3576) — copies the
    * subtrees into the same arena as detached roots. */
  def deepClone(): Elems = {
    val out = ids.map(e => Mutation.deepCopy(doc, e, doc))
    new Elems(doc, out)
  }
}

final case class AttrVal(isTrue: Boolean, value: String) {
  def isStr(s: String): Boolean = !isTrue && value == s || (isTrue && s.isEmpty)
  override def toString: String = value
  def toList: Seq[String] = value.split("\\s+").filter(_.nonEmpty).toSeq
}

/** set of text-node handles (reference `Texts`, interface/texts.rs) —
  * includes content-tag elements posing as text nodes. */
final class Texts(val doc: VDoc, var ids: Array[Int]) {
  private def a = doc.arena
  def length: Int = ids.length

  def forEach(handle: (Int, TextHandle) => Boolean): Texts = {
    var i = 0
    var go = true
    while (i < ids.length && go) { go = handle(i, new TextHandle(doc, ids(i))); i += 1 }
    this
  }

  def filterBy(handle: (Int, TextHandle) => Boolean): Texts = {
    val out = new ArrayBuffer[Int]()
    var i = 0
    while (i < ids.length) {
      if (handle(i, new TextHandle(doc, ids(i)))) out += ids(i)
      i += 1
    }
    new Texts(doc, out.toArray)
  }

  /** detach the text nodes (renumbering each touched parent once) and
    * clear the content tags posing as text. */
  def remove(): Unit = {
    ids.foreach { e =>
      if (a.kind(e) == a.ELEM && a.isContentTag(e)) { a.textOff(e) = 0; a.textLen(e) = 0 }
    }
    a.detachAll(ids.filter(e => a.kind(e) == a.TEXT || a.kind(e) == a.SPACES))
  }

  def get(i: Int): TextHandle = new TextHandle(doc, ids(i))
}

/** one text node handle (ITextTrait, reference src/lib.rs:396-432). */
final class TextHandle(val doc: VDoc, val id: Int) {
  private def a = doc.arena
  def isElement: Boolean = a.kind(id) == a.ELEM // content tags pose as text

  def text(): String = {
    val sb = new java.lang.StringBuilder(32)
    a.textContent(id, sb)
    sb.toString
  }

  def textChars(): String = a.str(a.textOff(id), a.textLen(id))

  private def setRaw(s: String): Unit = a.setTextSpan(id, s)

  def appendText(content: String): Unit =
    setRaw(a.str(a.textOff(id), a.textLen(id)) + content)

  def prependText(content: String): Unit =
    setRaw(content + a.str(a.textOff(id), a.textLen(id)))

  def setText(content: String): Unit = {
    if (content.isEmpty) doc.reportError("set_text: the text parameter can't be empty")
    else setRaw(content)
  }

  def setHtml(content: String): Unit = Mutation.setHtmlOn(doc, id, content)

  def remove(): Unit =
    if (a.kind(id) == a.TEXT || a.kind(id) == a.SPACES) a.detach(id)
}
