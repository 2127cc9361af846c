package graft.query

import graft.dom.Arena
import graft.html.{ParseOptions, Parser}

/** One parsed document: arena + per-document error channel (visdom's
  * `onerror` handler, reference `src/lib.rs:1098-1137`). Operations that hit
  * errors (invalid selector, illegal mutation) report to the handler and
  * yield empty results / no-ops instead of failing the task — the behavior
  * `Vis::load` exhibits (reference `tests/selector.rs:873-897`,
  * `tests/insertion.rs:133-142`).
  */
final class VDoc(val arena: Arena) {
  var onError: String => Unit = _ => ()
  var errorCount: Int = 0

  def reportError(msg: String): Unit = {
    errorCount += 1
    onError(msg)
  }

  /** the element set wrapping the abstract root (Vis::load result). */
  def rootElems: Elems = new Elems(this, Array(0))

  def isDocument: Boolean = arena.isDocument

  // ---- IDocumentTrait surface (reference src/lib.rs:1115-1137, document.rs) ----
  def sourceCode: String = arena.sourceCode()

  def getElementById(id: String): Elems = {
    val n = arena.getElementById(id)
    if (n < 0) new Elems(this, Array.emptyIntArray) else new Elems(this, Array(n))
  }

  private def findTop(lower: String): Int = {
    // document_element = the <html> child of the root
    var c = arena.firstChild(0)
    while (c >= 0) {
      if (arena.kind(c) == arena.ELEM && arena.lowerName(c) == lower) return c
      c = arena.nextSib(c)
    }
    -1
  }

  def documentElement: Option[Int] =
    if (!isDocument) None else Some(findTop("html")).filter(_ >= 0)

  private def htmlChild(lower: String): Option[Int] =
    documentElement.flatMap { h =>
      var c = arena.firstChild(h)
      while (c >= 0) {
        if (arena.kind(c) == arena.ELEM && arena.lowerName(c) == lower) return Some(c)
        c = arena.nextSib(c)
      }
      None
    }

  def head: Option[Elems] = htmlChild("head").map(id => new Elems(this, Array(id)))
  def body: Option[Elems] = htmlChild("body").map(id => new Elems(this, Array(id)))

  /** title text (reference document.rs — title of head > title). */
  def title: Option[String] =
    htmlChild("head").flatMap { h =>
      var c = arena.firstChild(h)
      while (c >= 0) {
        if (arena.kind(c) == arena.ELEM && arena.lowerName(c) == "title")
          return Some(arena.text(c))
        c = arena.nextSib(c)
      }
      None
    }
}

/** Entry points — Vis::load / load_options / *_catch
  * (reference `src/lib.rs:1233-1265`). */
object Vis {
  /** an arena sized for `html` (one node per 16 chars, one attribute per
    * 32, within a small floor and the default caps) instead of the fixed
    * default: a 30-byte fragment needs a few nodes, not 256 */
  private def arenaFor(html: String): Arena = {
    val len = html.length
    new Arena(
      initialNodes = math.min(math.max(len >> 4, 8), 256),
      initialAttrs = math.min(math.max(len >> 5, 4), 64),
      initialBytes = math.min(len + 16, 1024))
  }

  def loadOptions(html: String, opts: ParseOptions): Either[String, Elems] = {
    val arena = arenaFor(html)
    Parser.parseInto(arena, html, opts) match {
      case Some(err) => Left(err.message)
      case None => Right(new VDoc(arena).rootElems)
    }
  }

  def load(html: String): Either[String, Elems] = loadOptions(html, ParseOptions.compat)

  /** errors go to the handler; parse failure yields empty elements. */
  def loadCatch(html: String, handle: String => Unit): Elems =
    loadOptionsCatch(html, ParseOptions.compat, handle)

  def loadOptionsCatch(html: String, opts: ParseOptions, handle: String => Unit): Elems = {
    val arena = arenaFor(html)
    Parser.parseInto(arena, html, opts) match {
      case Some(err) =>
        handle(err.message)
        val empty = new Arena(8)
        Parser.parseInto(empty, "", ParseOptions.compat)
        new Elems(new VDoc(empty), Array.emptyIntArray)
      case None =>
        val doc = new VDoc(arena)
        doc.onError = handle
        doc.rootElems
    }
  }

  /** like Vis::load but swallow errors into the doc error channel (the
    * behavior plain `Vis::load?` has for post-parse method errors). */
  def loadOrThrow(html: String): Elems =
    load(html).fold(e => throw new IllegalArgumentException(e), identity)

  /** re-wrap one element handle (Vis::dom). */
  def dom(doc: VDoc, id: Int): Elems = new Elems(doc, Array(id))
}
