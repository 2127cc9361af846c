package graft.spark

import graft.query.{Elems, VDoc}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Page-metadata extraction: the head-section fields every crawl keeps
  * per page for quality filtering, deduplication and provenance —
  * `<title>`, the standard `<meta name=...>` descriptors, Open Graph /
  * Twitter Card properties, the document language, and embedded JSON-LD
  * structured-data blocks.
  *
  * Matching rules (all crawl-tolerant, null on absence — never throws):
  *  - title: the FIRST `<title>` element anywhere in the tree (crawl
  *    pages routinely misplace it outside `<head>`). Title is RCDATA:
  *    its content is raw text (markup stays literal) with entities
  *    decoded — decode, then HTML-whitespace-collapse and trim (the
  *    WHATWG "strip and collapse ASCII whitespace" title rule).
  *  - meta descriptors: `name` / `property` attributes compare
  *    case-insensitively on their entity-decoded value; the FIRST
  *    occurrence of each key wins (document order, like the reference's
  *    first-dup-wins attr rule); the `content` value is entity-decoded
  *    and trimmed but NOT collapsed (descriptions keep their internal
  *    whitespace). Open Graph keys match on either `property` (the OG
  *    spec) or `name` (how half the web actually writes them).
  *  - lang: the `lang` attribute of the first `<html>` element,
  *    entity-decoded + trimmed (BCP 47 tags are case-insensitive; the
  *    original case is preserved — canonicalize downstream if needed).
  *  - JSON-LD: raw trimmed text of every
  *    `<script type="application/ld+json">` in document order; the type
  *    match is on the MIME essence (parameters after ';' dropped,
  *    case-insensitive). Script payloads are RAWTEXT — returned verbatim,
  *    no entity decode.
  *
  * One fused selector pass (`title, meta, script[type], html[lang]`)
  * collects everything — metadata extraction costs a single doc-order
  * walk regardless of how many fields a query reads. */
object MetaOps {

  /** all-fields-nullable page metadata (null = absent). */
  final case class Meta(title: String, description: String, keywords: String,
      lang: String, ogTitle: String, ogDescription: String, ogUrl: String,
      ogImage: String, ogType: String, twitterCard: String)

  private val GroupSel = "title, meta, script[type], html[lang]"

  /** HTML whitespace collapse: runs of ASCII whitespace become one
    * space, leading/trailing stripped. */
  private[spark] def collapseWs(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') {
        if (sb.length > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** MIME essence of a type attribute value: parameters dropped,
    * trimmed, lowercased. */
  private def mimeEssence(t: String): String = {
    val semi = t.indexOf(';')
    (if (semi >= 0) t.substring(0, semi) else t).trim.toLowerCase(java.util.Locale.ROOT)
  }

  /** decoded + trimmed attr value of `el`, null when absent/empty after
    * trim. */
  private def attrVal(el: Elems, name: String): String =
    el.attr(name) match {
      case Some(a) =>
        val v = graft.dom.Entities.decode(a.value).trim
        if (v.isEmpty) null else v
      case None => null
    }

  /** parse result of the fused walk. `jsonLd` is never null (empty when
    * no blocks). */
  final case class Parsed(meta: Meta, jsonLd: Array[String])

  def extract(doc: VDoc): Parsed = {
    var title: String = null
    var description: String = null; var keywords: String = null
    var lang: String = null
    var ogTitle: String = null; var ogDescription: String = null
    var ogUrl: String = null; var ogImage: String = null; var ogType: String = null
    var twitterCard: String = null
    val jsonLd = scala.collection.mutable.ArrayBuffer.empty[String]

    Extractor.compiled(GroupSel) match {
      case Left(_) => // static selector — cannot fail; defensive null
        return null
      case Right(sel) =>
        import scala.collection.mutable.ArrayBuffer
        val found = graft.query.Engine.findSelector(doc, ArrayBuffer(0), sel)
        val a = doc.arena
        var i = 0
        while (i < found.length) {
          val node = found(i)
          val el = new Elems(doc, Array(node))
          a.lowerName(node) match {
            case "title" =>
              // title is RCDATA: the content is raw text (markup stays
              // literal) but entities decode — decode then collapse
              if (title == null)
                title = collapseWs(graft.dom.Entities.decode(el.text()))
            case "html" =>
              if (lang == null) lang = attrVal(el, "lang")
            case "script" =>
              val t = el.attr("type")
              if (t.isDefined &&
                  mimeEssence(graft.dom.Entities.decode(t.get.value)) == "application/ld+json") {
                val body = el.text().trim
                if (body.nonEmpty) jsonLd += body
              }
            case "meta" =>
              val content = attrVal(el, "content")
              if (content != null) {
                val name = attrVal(el, "name")
                val prop = attrVal(el, "property")
                def is(key: String, v: String): Boolean =
                  v != null && v.equalsIgnoreCase(key)
                def isOg(key: String): Boolean = is(key, prop) || is(key, name)
                if (is("description", name)) {
                  if (description == null) description = content
                } else if (is("keywords", name)) {
                  if (keywords == null) keywords = content
                } else if (is("twitter:card", name) || is("twitter:card", prop)) {
                  if (twitterCard == null) twitterCard = content
                } else if (isOg("og:title")) {
                  if (ogTitle == null) ogTitle = content
                } else if (isOg("og:description")) {
                  if (ogDescription == null) ogDescription = content
                } else if (isOg("og:url")) {
                  if (ogUrl == null) ogUrl = content
                } else if (isOg("og:image")) {
                  if (ogImage == null) ogImage = content
                } else if (isOg("og:type")) {
                  if (ogType == null) ogType = content
                }
              }
            case _ => ()
          }
          i += 1
        }
    }
    Parsed(Meta(title, description, keywords, lang, ogTitle, ogDescription,
      ogUrl, ogImage, ogType, twitterCard), jsonLd.toArray)
  }

  // ------------------------------------------------- codegen static entries

  def titleCodegen(html: UTF8String): UTF8String =
    if (html == null) null else titleCodegenBinary(html.getBytes)

  def titleCodegenBinary(html: Array[Byte]): UTF8String = {
    if (html == null) return null
    try {
      val doc = Extractor.parseShared(html)
      if (doc == null) return null
      val p = extract(doc)
      if (p == null || p.meta.title == null) null
      else UTF8String.fromString(p.meta.title)
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null // row degrades, task survives
    }
  }

  def metaCodegen(html: UTF8String): InternalRow =
    if (html == null) null else metaCodegenBinary(html.getBytes)

  def metaCodegenBinary(html: Array[Byte]): InternalRow = {
    if (html == null) return null
    try {
      val doc = Extractor.parseShared(html)
      if (doc == null) return null
      val p = extract(doc)
      if (p == null) return null
      val m = p.meta
      def u(s: String) = if (s == null) null else UTF8String.fromString(s)
      InternalRow(u(m.title), u(m.description), u(m.keywords), u(m.lang),
        u(m.ogTitle), u(m.ogDescription), u(m.ogUrl), u(m.ogImage),
        u(m.ogType), u(m.twitterCard))
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null
    }
  }

  def jsonLdCodegen(html: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    if (html == null) null else jsonLdCodegenBinary(html.getBytes)

  def jsonLdCodegenBinary(html: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (html == null) return null
    try {
      val doc = Extractor.parseShared(html)
      if (doc == null) return null
      val p = extract(doc)
      if (p == null) return null
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        p.jsonLd.map(v => UTF8String.fromString(v).asInstanceOf[Any]))
    } catch {
      case scala.util.control.NonFatal(_) => null
      case _: StackOverflowError => null
    }
  }
}
