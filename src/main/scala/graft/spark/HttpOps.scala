package graft.spark

import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.time.{LocalDateTime, ZoneOffset}
import java.util.Locale

/** HTTP caching semantics for re-crawl scheduling: RFC 9110 §5.6.7 date
  * parsing (all three historic formats a crawler still meets) and the
  * RFC 9111 §4.2 freshness computation that turns response headers into
  * "seconds until this page is worth refetching" — the signal a crawl
  * scheduler sorts its frontier by. Everything is null-tolerant scalar
  * work (codegen'd through [[GraftSparkExtensions]]); garbage headers yield SQL NULL or
  * the spec's already-expired zero, never an exception. */
object HttpOps extends Serializable {

  // RFC 9110 §5.6.7 preferred format: "Sun, 06 Nov 1994 08:49:37 GMT".
  // The leading weekday is stripped before parsing (real servers get it
  // wrong; the spec says the date wins).
  private val ImfBody = new DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .appendPattern("dd MMM yyyy HH:mm:ss")
    .toFormatter(Locale.ROOT)

  // obsolete rfc850: "Sunday, 06-Nov-94 08:49:37 GMT". Two-digit years
  // map into [1970, 2069] (appendValueReduced) — deterministic, vs the
  // RFC's now-relative sliding window which would break resume replay.
  private val Rfc850Body = new DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .appendPattern("dd-MMM-")
    .appendValueReduced(ChronoField.YEAR, 2, 2, 1970)
    .appendPattern(" HH:mm:ss")
    .toFormatter(Locale.ROOT)

  // obsolete asctime: "Sun Nov  6 08:49:37 1994" (day space-padded).
  private val AsctimeBody = new DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .appendPattern("MMM d HH:mm:ss yyyy")
    .toFormatter(Locale.ROOT)

  /** epoch seconds of an HTTP-date in any of RFC 9110 §5.6.7's three
    * formats; null when unparseable. Weekday names are ignored (never
    * trusted against the date), `UTC` is accepted for `GMT`. */
  def parseDate(s: String): java.lang.Long = {
    if (s == null) return null
    var t = s.trim
    if (t.isEmpty) return null
    try {
      val comma = t.indexOf(',')
      val body =
        if (comma >= 0) {
          // IMF or rfc850: weekday before the comma, date after
          var rest = t.substring(comma + 1).trim
          if (rest.endsWith("UTC")) rest = rest.dropRight(3).trim + " GMT"
          if (!rest.endsWith("GMT")) return null
          rest = rest.dropRight(3).trim
          val fmt = if (rest.length > 2 && rest.charAt(2) == '-') Rfc850Body else ImfBody
          LocalDateTime.parse(rest, fmt)
        } else {
          // asctime: "EEE MMM d HH:mm:ss yyyy", day may be space-padded
          val sp = t.indexOf(' ')
          if (sp < 0) return null
          var rest = t.substring(sp + 1).trim
          while (rest.contains("  ")) rest = rest.replace("  ", " ")
          LocalDateTime.parse(rest, AsctimeBody)
        }
      java.lang.Long.valueOf(body.toEpochSecond(ZoneOffset.UTC))
    } catch { case _: Exception => null }
  }

  /** value of a Cache-Control directive (lowercase `name`), "" for a
    * value-less directive that is present, null when absent. Handles
    * comma separation, OWS, and quoted-string values. */
  private[graft] def directive(cc: String, name: String): String = {
    if (cc == null) return null
    var i = 0
    val n = cc.length
    while (i < n) {
      while (i < n && (cc.charAt(i) == ' ' || cc.charAt(i) == '\t' || cc.charAt(i) == ',')) i += 1
      val start = i
      while (i < n && cc.charAt(i) != '=' && cc.charAt(i) != ',') i += 1
      val key = cc.substring(start, i).trim.toLowerCase(Locale.ROOT)
      var value = ""
      if (i < n && cc.charAt(i) == '=') {
        i += 1
        if (i < n && cc.charAt(i) == '"') {
          i += 1
          val vs = i
          while (i < n && cc.charAt(i) != '"') i += 1
          value = cc.substring(vs, i)
          if (i < n) i += 1
        } else {
          val vs = i
          while (i < n && cc.charAt(i) != ',') i += 1
          value = cc.substring(vs, i).trim
        }
      }
      if (key == name) return value
      while (i < n && cc.charAt(i) != ',') i += 1
    }
    null
  }

  private def parseSeconds(v: String): java.lang.Long = {
    if (v == null || v.isEmpty) return null
    var i = 0
    var r = 0L
    while (i < v.length) {
      val c = v.charAt(i)
      if (c < '0' || c > '9') return null
      r = r * 10 + (c - '0')
      if (r > Int.MaxValue) r = Int.MaxValue // RFC 9111 §1.2.2 cap
      i += 1
    }
    java.lang.Long.valueOf(r)
  }

  /** remaining freshness in seconds per RFC 9111 §4.2 as a shared cache
    * (a crawler's store serves many consumers): `no-store`/`no-cache` →
    * 0; else `s-maxage`, else `max-age`; else `Expires - Date` (an
    * unparseable Expires is "a time in the past", §5.3 → 0); else the
    * §4.2.2 heuristic, 10% of `Date - Last-Modified`; else NULL (no
    * basis — refetch policy is the caller's). The `Age` header is then
    * subtracted and the result floored at 0.
    *
    * Documented deviation: `Cache-Control: private` is NOT treated as
    * no-store, even though a strict shared cache must not reuse a
    * private response (§5.2.2.7). A crawler's store is the sole consumer
    * of its fetches — closer to a private cache for reuse purposes — and
    * `private, s-maxage=...` in the wild usually signals CDN-style
    * freshness the origin still wants honored. Callers enforcing strict
    * shared-cache semantics should gate on the raw Cache-Control value. */
  def freshSeconds(cacheControl: String, age: String, expires: String,
      date: String, lastModified: String): java.lang.Long = {
    val ageS: Long = { val a = parseSeconds(if (age == null) null else age.trim); if (a == null) 0L else a.longValue() }
    def remaining(lifetime: Long): java.lang.Long =
      java.lang.Long.valueOf(math.max(0L, lifetime - ageS))
    if (cacheControl != null) {
      if (directive(cacheControl, "no-store") != null ||
        directive(cacheControl, "no-cache") != null) return java.lang.Long.valueOf(0L)
      val sm = parseSeconds(directive(cacheControl, "s-maxage"))
      if (sm != null) return remaining(sm.longValue())
      val ma = parseSeconds(directive(cacheControl, "max-age"))
      if (ma != null) return remaining(ma.longValue())
    }
    if (expires != null) {
      val ex = parseDate(expires)
      if (ex == null) return java.lang.Long.valueOf(0L) // §5.3: invalid = past
      val dt = parseDate(date)
      if (dt == null) return java.lang.Long.valueOf(0L)
      return remaining(math.max(0L, ex.longValue() - dt.longValue()))
    }
    if (lastModified != null && date != null) {
      val lm = parseDate(lastModified)
      val dt = parseDate(date)
      if (lm != null && dt != null && dt.longValue() > lm.longValue())
        return remaining((dt.longValue() - lm.longValue()) / 10)
    }
    null
  }

  // ------------------------------------------------- codegen static entries

  import org.apache.spark.unsafe.types.UTF8String

  private def str(u: UTF8String): String = if (u == null) null else u.toString

  def dateCodegen(s: UTF8String): java.lang.Long =
    if (s == null) null else parseDate(s.toString)

  def freshCodegen(cc: UTF8String, age: UTF8String, expires: UTF8String,
      date: UTF8String, lastModified: UTF8String): java.lang.Long =
    freshSeconds(str(cc), str(age), str(expires), str(date), str(lastModified))
}
