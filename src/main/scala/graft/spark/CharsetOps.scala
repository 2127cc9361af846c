package graft.spark

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import org.apache.spark.unsafe.types.UTF8String

/** Charset sniffing + transcoding for crawl HTML — the layer between raw
  * WARC payload bytes and the UTF-8-bytes contract of the extraction
  * engine. Real Common-Crawl HTML is only ~95% UTF-8; the rest declares
  * (or silently uses) windows-1252, Shift_JIS, GBK, KOI8-R, …
  *
  * Sniffing order follows the WHATWG encoding standard's precedence as
  * crawlers apply it (warcio/resiliparse do the same):
  *   1. BOM (authoritative: UTF-8 / UTF-16LE / UTF-16BE),
  *   2. the transport layer (`Content-Type: …; charset=…` HTTP header),
  *   3. the HTML5 meta prescan over the first 1024 bytes
  *      (`<meta charset=…>` / `<meta http-equiv=content-type content=…>`),
  *   4. content heuristic: whole-buffer UTF-8 validity, else windows-1252
  *      (the WHATWG default for the no-information case on the web).
  *
  * Labels are normalized per the WHATWG label table for the labels that
  * actually occur at crawl scale (latin1/ascii/iso-8859-1 are DECODED as
  * windows-1252, shift_jis as windows-31j/CP932, gb2312 as GBK — all
  * WHATWG-mandated supersets). Transcoding is tolerant: malformed input
  * maps to U+FFFD, never a throw. The UTF-8 fast path is zero-copy —
  * valid UTF-8 bytes (the overwhelming majority at 100 TB) pass through
  * unchanged, one validity scan, no allocation.
  */
object CharsetOps {

  /** WHATWG canonical name -> JDK charset name, for every encoding group
    * with measurable crawl share. Keys are the canonical names [[sniff]]
    * returns; [[normalizeLabel]] folds raw labels into these keys. */
  private val JdkName: Map[String, String] = Map(
    "utf-8" -> "UTF-8",
    "utf-16le" -> "UTF-16LE",
    "utf-16be" -> "UTF-16BE",
    "windows-1252" -> "windows-1252",
    "windows-1250" -> "windows-1250",
    "windows-1251" -> "windows-1251",
    "windows-1253" -> "windows-1253",
    "windows-1254" -> "windows-1254",
    "windows-1255" -> "windows-1255",
    "windows-1256" -> "windows-1256",
    "windows-1257" -> "windows-1257",
    "windows-1258" -> "windows-1258",
    "windows-874" -> "x-windows-874",
    "iso-8859-2" -> "ISO-8859-2",
    "iso-8859-3" -> "ISO-8859-3",
    "iso-8859-4" -> "ISO-8859-4",
    "iso-8859-5" -> "ISO-8859-5",
    "iso-8859-6" -> "ISO-8859-6",
    "iso-8859-7" -> "ISO-8859-7",
    "iso-8859-8" -> "ISO-8859-8",
    "iso-8859-10" -> "ISO-8859-10",
    "iso-8859-13" -> "ISO-8859-13",
    "iso-8859-14" -> "ISO-8859-14",
    "iso-8859-15" -> "ISO-8859-15",
    "iso-8859-16" -> "ISO-8859-16",
    "koi8-r" -> "KOI8-R",
    "koi8-u" -> "KOI8-U",
    "macintosh" -> "x-MacRoman",
    "shift_jis" -> "windows-31j", // WHATWG shift_jis decoder == CP932
    "euc-jp" -> "EUC-JP",
    "iso-2022-jp" -> "ISO-2022-JP",
    "gbk" -> "GBK", // WHATWG folds gb2312 labels into the GBK decoder
    "gb18030" -> "GB18030",
    "big5" -> "Big5-HKSCS", // WHATWG big5 includes the HKSCS extension
    "euc-kr" -> "x-windows-949" // WHATWG euc-kr decoder == CP949
  )

  /** WHATWG label table (lowercased, trimmed) -> canonical name, for the
    * label spellings seen in crawl Content-Type headers and meta tags. */
  private val Label: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    def put(canon: String, labels: String*): Unit =
      labels.foreach(l => b += (l -> canon))
    put("utf-8", "utf-8", "utf8", "unicode-1-1-utf-8", "unicode11utf8",
      "unicode20utf8", "x-unicode20utf8")
    // WHATWG: every latin1/ascii label decodes as windows-1252
    put("windows-1252", "windows-1252", "cp1252", "x-cp1252", "ansi_x3.4-1968",
      "ascii", "us-ascii", "iso-8859-1", "iso8859-1", "iso88591", "iso_8859-1",
      "iso_8859-1:1987", "latin1", "l1", "cp819", "ibm819", "csisolatin1",
      "iso-ir-100")
    put("windows-1250", "windows-1250", "cp1250", "x-cp1250")
    put("windows-1251", "windows-1251", "cp1251", "x-cp1251")
    put("windows-1253", "windows-1253", "cp1253", "x-cp1253")
    put("windows-1254", "windows-1254", "cp1254", "x-cp1254", "iso-8859-9",
      "iso8859-9", "iso88599", "latin5", "l5")
    put("windows-1255", "windows-1255", "cp1255", "x-cp1255")
    put("windows-1256", "windows-1256", "cp1256", "x-cp1256")
    put("windows-1257", "windows-1257", "cp1257", "x-cp1257")
    put("windows-1258", "windows-1258", "cp1258", "x-cp1258")
    put("windows-874", "windows-874", "dos-874", "tis-620", "iso-8859-11",
      "iso8859-11", "iso885911")
    put("iso-8859-2", "iso-8859-2", "iso8859-2", "iso88592", "latin2", "l2",
      "csisolatin2")
    put("iso-8859-3", "iso-8859-3", "iso8859-3", "iso88593", "latin3", "l3")
    put("iso-8859-4", "iso-8859-4", "iso8859-4", "iso88594", "latin4", "l4")
    put("iso-8859-5", "iso-8859-5", "iso8859-5", "iso88595", "cyrillic")
    put("iso-8859-6", "iso-8859-6", "iso8859-6", "iso88596", "arabic")
    put("iso-8859-7", "iso-8859-7", "iso8859-7", "iso88597", "greek", "greek8")
    put("iso-8859-8", "iso-8859-8", "iso8859-8", "iso88598", "hebrew",
      "iso-8859-8-i", "csiso88598i", "logical")
    put("iso-8859-10", "iso-8859-10", "iso8859-10", "iso885910", "latin6", "l6")
    put("iso-8859-13", "iso-8859-13", "iso8859-13", "iso885913")
    put("iso-8859-14", "iso-8859-14", "iso8859-14", "iso885914")
    put("iso-8859-15", "iso-8859-15", "iso8859-15", "iso885915", "latin9", "l9")
    put("iso-8859-16", "iso-8859-16")
    put("koi8-r", "koi8-r", "koi8", "koi", "cskoi8r", "koi8_r")
    put("koi8-u", "koi8-u", "koi8-ru")
    put("macintosh", "macintosh", "x-mac-roman", "mac", "csmacintosh")
    put("shift_jis", "shift_jis", "shift-jis", "sjis", "x-sjis", "ms_kanji",
      "ms932", "windows-31j", "csshiftjis")
    put("euc-jp", "euc-jp", "x-euc-jp", "cseucpkdfmtjapanese")
    put("iso-2022-jp", "iso-2022-jp", "csiso2022jp")
    put("gbk", "gbk", "gb2312", "gb_2312", "gb_2312-80", "csgb2312",
      "chinese", "csiso58gb231280", "iso-ir-58", "x-gbk")
    put("gb18030", "gb18030")
    put("big5", "big5", "big5-hkscs", "cn-big5", "x-x-big5", "csbig5")
    put("euc-kr", "euc-kr", "cseuckr", "korean", "ks_c_5601-1987",
      "ks_c_5601-1989", "ksc_5601", "ksc5601", "iso-ir-149", "windows-949")
    put("utf-16le", "utf-16le", "utf-16", "unicodefeff", "csunicode",
      "ucs-2", "unicode")
    put("utf-16be", "utf-16be", "unicodefffe")
    // x-user-defined pages are latin-ish mojibake; cp1252 is the
    // pragmatic crawl decode (exact x-user-defined PUA mapping carries no
    // text value)
    put("windows-1252", "x-user-defined")
    b.result()
  }

  /** canonical name -> JDK charset name (null when unmapped) — exposed so
    * the spec can assert every mapped decoder exists in the runtime. */
  private[graft] def jdkFor(canon: String): String = JdkName.getOrElse(canon, null)

  /** every canonical name the label table can produce. */
  private[graft] def canonicalNames: Set[String] = Label.values.toSet

  /** raw charset label -> canonical name, null when unrecognized. Label
    * folding is Locale.ROOT — a default-locale toLowerCase would turn
    * "SHIFT_JIS"/"ISO-…" into dotless-ı garbage on tr/az-locale executor
    * JVMs and silently drop every declared encoding. */
  def normalizeLabel(label: String): String = {
    if (label == null) return null
    val l = label.trim.toLowerCase(java.util.Locale.ROOT)
    // tolerate quoted labels and trailing ; garbage seen in real headers
    val clean = l.stripPrefix("\"").stripSuffix("\"").stripPrefix("'")
      .stripSuffix("'").trim
    Label.getOrElse(clean, null)
  }

  /** the `charset=` parameter of a Content-Type value, raw (not yet
    * normalized); null when absent. Case-insensitive (Locale.ROOT — see
    * [[normalizeLabel]]), tolerates quotes, and keeps searching past
    * charset-prefixed tokens without '=' ("charsetx; charset=gbk") as the
    * WHATWG "get an encoding from a string" loop does. */
  def charsetParam(contentType: String): String = {
    if (contentType == null) return null
    // ASCII-only fold: same length as the input by construction (even
    // Locale.ROOT toLowerCase can change length, e.g. U+0130 -> "i"+dot),
    // so indices into `lower` index `contentType` identically
    val lower = {
      val a = contentType.toCharArray
      var i = 0
      while (i < a.length) {
        if (a(i) >= 'A' && a(i) <= 'Z') a(i) = (a(i) + 32).toChar
        i += 1
      }
      new String(a)
    }
    var at = lower.indexOf("charset")
    while (at >= 0) {
      var i = at + "charset".length
      while (i < contentType.length && (contentType(i) == ' ' || contentType(i) == '\t')) i += 1
      if (i < contentType.length && contentType(i) == '=') {
        i += 1
        while (i < contentType.length && (contentType(i) == ' ' || contentType(i) == '\t')) i += 1
        var end = i
        while (end < contentType.length && contentType(end) != ';' &&
          contentType(end) != ' ' && contentType(end) != '\t') end += 1
        return if (end <= i) null else contentType.substring(i, end)
      }
      at = lower.indexOf("charset", at + 1)
    }
    null
  }

  // ------------------------------------------------------------- prescan

  private def lower(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b & 0xFF

  private def matchesAt(h: Array[Byte], at: Int, s: String): Boolean = {
    if (at + s.length > h.length) return false
    var i = 0
    while (i < s.length) {
      if (lower(h(at + i)) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  private def isSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0C

  /** HTML5 "get an attribute" step of the prescan (13.2.3.2): returns
    * (nameLowercase, valueLowercase, nextPos) or null at tag end. */
  private def prescanAttr(h: Array[Byte], start: Int, limit: Int): (String, String, Int) = {
    var i = start
    while (i < limit && (isSpace(lower(h(i))) || h(i) == '/')) i += 1
    if (i >= limit || h(i) == '>') return null
    val name = new java.lang.StringBuilder
    var value = new java.lang.StringBuilder
    // attribute name
    var c = 0
    var done = false
    while (i < limit && !done) {
      c = lower(h(i))
      if (c == '=' && name.length > 0) { i += 1; done = true }
      else if (isSpace(c)) {
        // spaces then maybe '='
        while (i < limit && isSpace(lower(h(i)))) i += 1
        if (i < limit && h(i) == '=') { i += 1; done = true }
        else return (name.toString, "", i)
      }
      else if (c == '/' || c == '>') return (name.toString, "", i)
      else { name.append(c.toChar); i += 1 }
    }
    if (i >= limit) return (name.toString, "", i)
    // attribute value
    while (i < limit && isSpace(lower(h(i)))) i += 1
    if (i >= limit) return (name.toString, "", i)
    val q = h(i)
    if (q == '"' || q == '\'') {
      i += 1
      while (i < limit && h(i) != q) { value.append(lower(h(i)).toChar); i += 1 }
      if (i < limit) i += 1
      (name.toString, value.toString, i)
    } else {
      while (i < limit && !isSpace(lower(h(i))) && h(i) != '>') {
        value.append(lower(h(i)).toChar); i += 1
      }
      (name.toString, value.toString, i)
    }
  }

  /** the HTML5 meta prescan over the first 1024 bytes: the raw charset
    * label from `<meta charset=…>` or
    * `<meta http-equiv=content-type content="…; charset=…">`, else null. */
  def prescanMeta(h: Array[Byte]): String = {
    if (h == null) return null
    val limit = math.min(h.length, 1024)
    var i = 0
    while (i < limit) {
      if (h(i) == '<') {
        if (matchesAt(h, i, "<!--")) {
          // comment: skip to -->
          var j = i + 4
          while (j + 2 < limit && !(h(j) == '-' && h(j + 1) == '-' && h(j + 2) == '>')) j += 1
          i = if (j + 2 < limit) j + 3 else limit
        } else if (matchesAt(h, i, "<meta") && i + 5 < limit &&
          (isSpace(lower(h(i + 5))) || h(i + 5) == '/')) {
          var at = i + 5
          var gotPragma = false
          var needPragma: java.lang.Boolean = null
          var charset: String = null
          var attr = prescanAttr(h, at, limit)
          val seen = scala.collection.mutable.HashSet.empty[String]
          while (attr != null) {
            val (name, value, next) = attr
            at = next
            if (!seen.contains(name)) {
              seen += name
              name match {
                case "http-equiv" =>
                  if (value == "content-type") gotPragma = true
                case "content" =>
                  if (charset == null) {
                    val cs = charsetParam(value)
                    if (cs != null) { charset = cs; needPragma = java.lang.Boolean.TRUE }
                  }
                case "charset" =>
                  charset = value; needPragma = java.lang.Boolean.FALSE
                case _ =>
              }
            }
            attr = prescanAttr(h, at, limit)
          }
          if (charset != null &&
            (needPragma == java.lang.Boolean.FALSE ||
              (needPragma == java.lang.Boolean.TRUE && gotPragma)))
            return charset
          i = at + 1
        } else if (i + 1 < limit && (lower(h(i + 1)) >= 'a' && lower(h(i + 1)) <= 'z' || h(i + 1) == '/')) {
          // a tag: consume its attributes so their values can't leak labels
          var at = i + 1
          while (at < limit && h(at) != '>' && !isSpace(lower(h(at)))) at += 1
          var attr = prescanAttr(h, at, limit)
          while (attr != null) { at = attr._3; attr = prescanAttr(h, at, limit) }
          i = at + 1
        } else if (matchesAt(h, i, "<!") || matchesAt(h, i, "<?")) {
          var j = i + 2
          while (j < limit && h(j) != '>') j += 1
          i = j + 1
        } else i += 1
      } else i += 1
    }
    null
  }

  // ------------------------------------------------------------ validity

  /** strict whole-buffer UTF-8 validity (RFC 3629: no overlongs, no
    * surrogates, <= U+10FFFF) — the content heuristic for undeclared
    * pages, and the gate for the zero-copy fast path. */
  def isValidUtf8(h: Array[Byte]): Boolean = {
    var i = 0
    val n = h.length
    while (i < n) {
      val b0 = h(i) & 0xFF
      if (b0 < 0x80) i += 1
      else if (b0 < 0xC2) return false // continuation or overlong lead
      else if (b0 < 0xE0) {
        if (i + 1 >= n || (h(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (b0 < 0xF0) {
        if (i + 2 >= n) return false
        val b1 = h(i + 1) & 0xFF
        if ((b1 & 0xC0) != 0x80 || (h(i + 2) & 0xC0) != 0x80) return false
        if (b0 == 0xE0 && b1 < 0xA0) return false // overlong
        if (b0 == 0xED && b1 >= 0xA0) return false // surrogate
        i += 3
      } else if (b0 < 0xF5) {
        if (i + 3 >= n) return false
        val b1 = h(i + 1) & 0xFF
        if ((b1 & 0xC0) != 0x80 || (h(i + 2) & 0xC0) != 0x80 ||
          (h(i + 3) & 0xC0) != 0x80) return false
        if (b0 == 0xF0 && b1 < 0x90) return false // overlong
        if (b0 == 0xF4 && b1 >= 0x90) return false // > U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  // --------------------------------------------------------------- sniff

  /** canonical encoding name of an HTML payload, per the WHATWG
    * precedence (BOM > transport > meta prescan > content heuristic).
    * `contentType` is the HTTP `Content-Type` value, may be null. */
  def sniff(html: Array[Byte], contentType: String): String = {
    if (html == null) return null
    val (name, _) = sniffEx(html, contentType)
    name
  }

  /** validity verdict piggybacked on the sniff so transcode callers don't
    * re-scan: UNKNOWN when the heuristic never ran. */
  private final val ValidityUnknown = 0
  private final val ValidUtf8 = 1
  private final val InvalidUtf8 = 2

  private def sniffEx(html: Array[Byte], contentType: String): (String, Int) = {
    val n = html.length
    if (n >= 3 && (html(0) & 0xFF) == 0xEF && (html(1) & 0xFF) == 0xBB &&
      (html(2) & 0xFF) == 0xBF) return ("utf-8", ValidityUnknown)
    if (n >= 2 && (html(0) & 0xFF) == 0xFF && (html(1) & 0xFF) == 0xFE)
      return ("utf-16le", ValidityUnknown)
    if (n >= 2 && (html(0) & 0xFF) == 0xFE && (html(1) & 0xFF) == 0xFF)
      return ("utf-16be", ValidityUnknown)
    val fromHeader = normalizeLabel(charsetParam(contentType))
    if (fromHeader != null) return (fromHeader, ValidityUnknown)
    val fromMeta = normalizeLabel(prescanMeta(html)) match {
      // HTML5 14.2.3.2: utf-16 from a meta tag is read as utf-8 (the
      // prescan saw ASCII-compatible bytes, so the label is a lie)
      case "utf-16le" | "utf-16be" => "utf-8"
      case other => other
    }
    if (fromMeta != null) return (fromMeta, ValidityUnknown)
    if (isValidUtf8(html)) ("utf-8", ValidUtf8) else ("windows-1252", InvalidUtf8)
  }

  // ----------------------------------------------------------- transcode

  private def decodeWith(h: Array[Byte], off: Int, jdkName: String): String = {
    val cs = Charset.forName(jdkName)
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(h, off, h.length - off)).toString
  }

  /** HTML payload bytes -> UTF-8 bytes, sniffing with [[sniff]]. Valid
    * UTF-8 input with no BOM returns the SAME array (zero copy — the
    * dominant path at crawl scale). Tolerant: malformed sequences become
    * U+FFFD, an unknown/unsupported JDK charset falls back to the content
    * heuristic, null stays null. */
  def toUtf8(html: Array[Byte], contentType: String): Array[Byte] = {
    if (html == null) return null
    val (name, validity) = sniffEx(html, contentType)
    transcode(html, name, validity)
  }

  /** transcode with an already-sniffed canonical name (lets callers
    * surface the charset column without sniffing twice). */
  def toUtf8As(html: Array[Byte], canonicalName: String): Array[Byte] = {
    if (html == null) return null
    transcode(html, canonicalName, ValidityUnknown)
  }

  /** `validity` carries the sniff heuristic's verdict when it ran, so the
    * dominant undeclared-UTF-8 path costs exactly ONE whole-buffer scan
    * end to end (sniff + transcode), not two. */
  private def transcode(html: Array[Byte], canonicalName: String, validity: Int): Array[Byte] = {
    val n = html.length
    def utf8Valid: Boolean =
      if (validity == ValidityUnknown) isValidUtf8(html) else validity == ValidUtf8
    canonicalName match {
      case "utf-8" =>
        val bom = n >= 3 && (html(0) & 0xFF) == 0xEF &&
          (html(1) & 0xFF) == 0xBB && (html(2) & 0xFF) == 0xBF
        if (!bom && utf8Valid) html // zero-copy fast path
        else {
          val off = if (bom) 3 else 0
          decodeWith(html, off, "UTF-8").getBytes(StandardCharsets.UTF_8)
        }
      case "utf-16le" | "utf-16be" =>
        // strip only the exact BOM PAIR for the chosen endianness: a
        // BOM-less UTF-16LE body starting with U+00FF is FF 00, and
        // first-byte-only stripping would eat its first character
        val le = canonicalName == "utf-16le"
        val bom = n >= 2 &&
          (if (le) (html(0) & 0xFF) == 0xFF && (html(1) & 0xFF) == 0xFE
           else (html(0) & 0xFF) == 0xFE && (html(1) & 0xFF) == 0xFF)
        val off = if (bom) 2 else 0
        decodeWith(html, off, if (le) "UTF-16LE" else "UTF-16BE")
          .getBytes(StandardCharsets.UTF_8)
      case other =>
        val jdk = JdkName.getOrElse(other, null)
        if (jdk == null) {
          // unrecognized: content heuristic
          if (utf8Valid) html
          else decodeWith(html, 0, "windows-1252").getBytes(StandardCharsets.UTF_8)
        } else {
          try decodeWith(html, 0, jdk).getBytes(StandardCharsets.UTF_8)
          catch {
            case _: java.nio.charset.UnsupportedCharsetException |
                 _: java.nio.charset.IllegalCharsetNameException =>
              if (utf8Valid) html
              else decodeWith(html, 0, "windows-1252").getBytes(StandardCharsets.UTF_8)
          }
        }
    }
  }

  // ------------------------------------------------------ codegen facade

  /** `charset_of(html, content_type)` body: either may be null (a null
    * html gives null, from `sniff`). */
  def sniffCodegen(html: Array[Byte], ct: UTF8String): UTF8String = {
    val s = sniff(html, if (ct == null) null else ct.toString)
    if (s == null) null else UTF8String.fromString(s)
  }

  /** `decode_html(html, content_type)` body: either may be null (a null
    * html gives null, from `toUtf8`). */
  def decodeCodegen(html: Array[Byte], ct: UTF8String): Array[Byte] =
    toUtf8(html, if (ct == null) null else ct.toString)
}
