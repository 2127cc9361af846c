package graft.spark

import java.nio.charset.{CharacterCodingException, Charset, CodingErrorAction}
import java.nio.ByteBuffer

import org.apache.spark.unsafe.types.UTF8String

/** Text normalization / mojibake repair — the ftfy-class cleanup pass a
  * crawl-text pipeline runs between extraction and quality filtering.
  * Real crawl text is full of UTF-8 bytes that were decoded as
  * Windows-1252 somewhere upstream ("café" shipped as "cafÃ©",
  * "don’t" as "donâ€™t"): the page declared one charset, a proxy or CMS
  * assumed another, and the damage is baked into the stored payload.
  * Charset sniffing at ingest ([[CharsetOps]]) cannot fix this — the
  * bytes ARE valid in the wrong charset — so the repair is a per-row
  * string transform.
  *
  * `fix_text(text)` applies, in order (pinned by TextNormSpec + the
  * q_fix_text oracle):
  *  1. **un-mojibake**, up to 3 rounds: if every char of the string maps
  *     back to a single byte under "sloppy windows-1252" (Latin-1 direct
  *     including C1 chars + the 27 cp1252 punctuation codepoints — both
  *     real damage paths invert: a cp1252 misdecode shipped `â€™`, a
  *     latin-1 misdecode shipped raw C1 chars), those bytes form
  *     STRICTLY valid UTF-8, and the decode is strictly shorter (at
  *     least one multi-byte sequence consumed), replace the string with
  *     the decode. The three conditions make false repair of legitimate
  *     Latin-1 text nearly impossible: a lone "é" encodes to one 0xE9
  *     byte, which is malformed UTF-8, so clean text never re-decodes.
  *     Multiple rounds undo doubly-encoded text ("ÃƒÂ©" → "Ã©" → "é").
  *  2. **NFC normalization** (java.text.Normalizer) — combining
  *     sequences collapse to their canonical composed form, so dedup
  *     hashing and token counting see one spelling per grapheme.
  *  3. **control-char strip**: C0 controls except `\t`/`\n`/`\r`, DEL,
  *     and the C1 range U+0080–U+009F are removed (crawl-payload noise
  *     and misdecode residue; never meaningful in text).
  *
  * One scalar pass per row, bounded by the row's own size; one static call in
  * generated code, never a UDF. NULL → NULL. */
object TextNorm extends Serializable {

  private val Utf8 = Charset.forName("UTF-8")

  /** "sloppy windows-1252" reverse map (the ftfy convention): the 27
    * cp1252 punctuation codepoints map to their 0x80–0x9F bytes, the five
    * bytes cp1252 leaves undefined (0x81 8D 8F 90 9D) map from their C1
    * chars — because the two real damage paths differ exactly there
    * (a cp1252 misdecode yields `€`-style punctuation, a latin-1
    * misdecode yields raw C1 chars), and the repair must invert both. */
  private val SloppyByte: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte]()
    val cp1252Hi = Array[Int](
      0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
      0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
      0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
      0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178)
    var b = 0x80
    cp1252Hi.foreach { cp =>
      m.put(cp.toChar, b.toByte)
      b += 1
    }
    m
  }

  /** one un-mojibake round; null when the string is not a cp1252/latin-1
    * carried UTF-8 misdecode (the common case — cheap pre-scan first). */
  private def unMojibake(s: String): String = {
    // pre-scan: a repairable string must contain a char in [0x80, 0x100)
    // or a sloppy-cp1252 punctuation char; pure ASCII can never shrink
    var hasHigh = false
    var i = 0
    while (i < s.length && !hasHigh) {
      if (s.charAt(i) >= 0x80) hasHigh = true
      i += 1
    }
    if (!hasHigh) return null
    // sloppy-cp1252 encode: all of Latin-1 direct (C1 included — the
    // latin-1 damage path ships raw C1 chars), cp1252 punctuation via
    // the reverse table; any other char means "not a 1-byte misdecode"
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x100) bytes(i) = c.toByte
      else {
        val b = SloppyByte.get(c)
        if (b == null) return null
        bytes(i) = b.byteValue()
      }
      i += 1
    }
    try {
      val dec = Utf8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = dec.decode(ByteBuffer.wrap(bytes)).toString
      if (out.length < s.length) out else null
    } catch {
      case _: CharacterCodingException => null
    }
  }

  private def keepControl(c: Char): Boolean = c == '\t' || c == '\n' || c == '\r'

  private def stripControls(s: String): String = {
    var i = 0
    var dirty = false
    while (i < s.length && !dirty) {
      val c = s.charAt(i)
      if ((c < 0x20 && !keepControl(c)) || (c >= 0x7f && c <= 0x9f)) dirty = true
      i += 1
    }
    if (!dirty) return s
    val sb = new java.lang.StringBuilder(s.length)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!((c < 0x20 && !keepControl(c)) || (c >= 0x7f && c <= 0x9f))) sb.append(c)
      i += 1
    }
    sb.toString
  }

  def fixText(s: String): String = {
    if (s == null) return null
    var cur = s
    var round = 0
    var repaired = true
    while (round < 3 && repaired) {
      val un = unMojibake(cur)
      if (un == null) repaired = false else cur = un
      round += 1
    }
    stripControls(java.text.Normalizer.normalize(cur, java.text.Normalizer.Form.NFC))
  }

  // ------------------------------------------------------------------- PII

  /** PII scrubbing patterns — the Dolma/FineWeb-family anonymization
    * pass. Deliberately plain regex (no lookaround, ASCII classes) so
    * the exact same pattern strings run under Java regex here and RE2 in
    * the DuckDB oracle with identical match sets. Order matters and is
    * part of the contract: emails first (their digits must not feed the
    * phone pattern), then IPv4, then phones; replacement tokens carry no
    * digits, so earlier replacements never create later matches. The
    * phone pattern intentionally over-matches long digit runs —
    * over-scrubbing is the safe direction for a privacy filter. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhonePattern = "(\\+?\\d{1,3}[ .-])?\\(?\\d{3}\\)?[ .-]?\\d{3}[ .-]?\\d{4}"

  private val EmailRe = java.util.regex.Pattern.compile(EmailPattern)
  private val Ipv4Re = java.util.regex.Pattern.compile(Ipv4Pattern)
  private val PhoneRe = java.util.regex.Pattern.compile(PhonePattern)

  /** replace emails / IPv4s / phone-shaped digit runs with
    * `|||EMAIL|||` / `|||IP|||` / `|||PHONE|||`; null-safe. */
  def scrubPii(s: String): String = {
    if (s == null) return null
    // cheap pre-scan: PII needs '@' or a digit; most clean prose has
    // neither and skips all three regex passes
    var has = false
    var i = 0
    while (i < s.length && !has) {
      val c = s.charAt(i)
      if (c == '@' || (c >= '0' && c <= '9')) has = true
      i += 1
    }
    if (!has) return s
    PhoneRe.matcher(
      Ipv4Re.matcher(
        EmailRe.matcher(s).replaceAll("|||EMAIL|||"))
        .replaceAll("|||IP|||"))
      .replaceAll("|||PHONE|||")
  }

  /** credit-card redaction — the one PII class a regex alone cannot
    * decide: a 13–19-digit run is a card number only if it passes the
    * Luhn checksum (ISO/IEC 7812), otherwise it is an order id, a
    * timestamp, a hash. The scan is a hand-rolled single pass (no regex —
    * the candidate grammar "digit groups joined by single spaces or
    * dashes" plus the checksum gate doesn't fit one): a candidate starts
    * at a digit not preceded by an alnum char, extends over digits with
    * single ' ' or '-' separators between digit GROUPS, must end at a
    * non-alnum boundary, strip to 13–19 digits, Luhn-check; matches
    * become `|||CARD|||`. Deliberately a SEPARATE function from
    * [[scrubPii]] (whose contract is oracle-recomputable pure regex):
    * compose as `scrub_pii(scrub_cards(text))` — cards first, or a card
    * number would phone-match its tail. */
  def luhnOk(digits: String): Boolean = {
    var sum = 0
    var alt = false
    var i = digits.length - 1
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  private def alnum(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  def scrubCards(s: String): String = {
    if (s == null) return null
    var sb: java.lang.StringBuilder = null // lazily created on first match
    var at = 0 // copied-through position
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9' && (i == 0 || !alnum(s.charAt(i - 1)))) {
        // candidate: digit groups with single ' '/'-' separators, capped
        // at 19 digits (a longer run can never be a card, and the cap
        // bounds the rescan cost below to O(25) chars per start)
        val digits = new java.lang.StringBuilder(19)
        var j = i
        var ok = true
        while (ok && j < n && digits.length <= 19) {
          val cj = s.charAt(j)
          if (cj >= '0' && cj <= '9') { digits.append(cj); j += 1 }
          else if ((cj == ' ' || cj == '-') && j + 1 < n &&
            s.charAt(j + 1) >= '0' && s.charAt(j + 1) <= '9') j += 1
          else ok = false
        }
        val end = j // first char past the candidate
        val boundary = end >= n || !alnum(s.charAt(end))
        if (boundary && digits.length >= 13 && digits.length <= 19 &&
          luhnOk(digits.toString)) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, at, i).append("|||CARD|||")
          at = end
          i = end
        } else {
          // advance past the FIRST digit group only: a later group may
          // start its own card ("order 12345 4111111111111111" must
          // still find the card after the over-joined reject)
          while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
        }
      } else i += 1
    }
    if (sb == null) s else { sb.append(s, at, n); sb.toString }
  }

  /** codegen static entry: null in -> null out, never throws. */
  def scrubCardsCodegen(text: UTF8String): UTF8String = {
    if (text == null) return null
    try {
      val s = text.toString
      val out = scrubCards(s)
      if (out eq s) text else UTF8String.fromString(out)
    } catch {
      case scala.util.control.NonFatal(_) => text
    }
  }

  /** codegen static entry: null in -> null out, never throws. */
  def scrubPiiCodegen(text: UTF8String): UTF8String = {
    if (text == null) return null
    try {
      val s = text.toString
      val out = scrubPii(s)
      if (out eq s) text else UTF8String.fromString(out)
    } catch {
      case scala.util.control.NonFatal(_) => text
    }
  }

  /** codegen static entry: null in -> null out, never throws. */
  def fixTextCodegen(text: UTF8String): UTF8String = {
    if (text == null) return null
    try {
      val s = text.toString
      val out = fixText(s)
      if (out eq s) text else UTF8String.fromString(out)
    } catch {
      case scala.util.control.NonFatal(_) => text
    }
  }
}
