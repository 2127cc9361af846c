package graft.dom

/** Byte-level predicates over UTF-8 spans, for selector rules that read the
  * arena without decoding it. UTF-8 is self-synchronizing (RFC 3629 §3): on
  * well-formed byte strings, byte equality, prefix, suffix and substring
  * search give exactly the answers of the decoded Strings' `==`,
  * `startsWith`, `endsWith` and `contains`. Callers check well-formedness
  * first and decode whatever is not.
  */
object Utf8 {

  /** every byte of `b[off, off+len)` is ASCII. */
  def isAscii(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** `b[off, off+len)` is well-formed UTF-8 (Unicode table 3-7): exactly the
    * spans that Java's UTF-8 decoder turns into a String without inserting
    * U+FFFD — no stray or missing continuation byte, no overlong form, no
    * surrogate, nothing past U+10FFFF. */
  def wellFormed(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        // second-byte range and sequence length per lead byte
        var lo = 0x80
        var hi = 0xbf
        val n =
          if (c >= 0xc2 && c <= 0xdf) 2
          else if (c >= 0xe0 && c <= 0xef) {
            if (c == 0xe0) lo = 0xa0 else if (c == 0xed) hi = 0x9f
            3
          } else if (c >= 0xf0 && c <= 0xf4) {
            if (c == 0xf0) lo = 0x90 else if (c == 0xf4) hi = 0x8f
            4
          } else return false
        if (i + n > end) return false
        val c1 = b(i + 1) & 0xff
        if (c1 < lo || c1 > hi) return false
        var k = 2
        while (k < n) {
          if ((b(i + k) & 0xc0) != 0x80) return false
          k += 1
        }
        i += n
      }
    }
    true
  }

  /** `b[off, off+len)` equals `p`. */
  def spanEquals(b: Array[Byte], off: Int, len: Int, p: Array[Byte]): Boolean =
    len == p.length && java.util.Arrays.equals(b, off, off + len, p, 0, len)

  /** `b[off, off+len)` starts with `p`. */
  def startsWith(b: Array[Byte], off: Int, len: Int, p: Array[Byte]): Boolean =
    len >= p.length && java.util.Arrays.equals(b, off, off + p.length, p, 0, p.length)

  /** `b[off, off+len)` ends with `p`. */
  def endsWith(b: Array[Byte], off: Int, len: Int, p: Array[Byte]): Boolean =
    len >= p.length && java.util.Arrays.equals(b, off + len - p.length, off + len, p, 0, p.length)

  /** first offset (relative to `off`) of `p` in `b[off, off+len)`, or -1. */
  def indexOf(b: Array[Byte], off: Int, len: Int, p: Array[Byte]): Int = {
    val m = p.length
    if (m == 0) return 0
    val first = p(0)
    val last = off + len - m
    var i = off
    while (i <= last) {
      if (b(i) == first && java.util.Arrays.equals(b, i + 1, i + m, p, 1, m)) return i - off
      i += 1
    }
    -1
  }

  /** separator set for [[hasToken]]: the ASCII bytes 0..63 whose bit is set. */
  def separators(bytes: Char*): Long = bytes.foldLeft(0L)((m, c) => m | (1L << c))

  /** some token of `b[off, off+len)`, split at the bytes of the separator
    * set `seps`, equals `p`: an occurrence of `p` bounded by separators or
    * the span's ends (no token holds a separator, nor is empty). */
  def hasToken(b: Array[Byte], off: Int, len: Int, p: Array[Byte], seps: Long): Boolean = {
    val m = p.length
    if (m == 0 || m > len) return false
    var k = 0
    while (k < m) { if (isSep(p(k), seps)) return false; k += 1 }
    val end = off + len
    val first = p(0)
    var i = off
    while (i <= end - m) {
      if (b(i) == first && (i == off || isSep(b(i - 1), seps)) && (i + m == end || isSep(b(i + m), seps))) {
        k = 1
        while (k < m && b(i + k) == p(k)) k += 1
        if (k == m) return true
      }
      i += 1
    }
    false
  }

  /** [[hasToken]] over the chars of a String (separators are ASCII). */
  def hasToken(v: String, p: String, seps: Long): Boolean = {
    val n = v.length
    var i = 0
    while (i < n) {
      while (i < n && isSep(v.charAt(i), seps)) i += 1
      var j = i
      while (j < n && !isSep(v.charAt(j), seps)) j += 1
      if (j > i && j - i == p.length && v.regionMatches(i, p, 0, p.length)) return true
      i = j
    }
    false
  }

  @inline private def isSep(c: Int, seps: Long): Boolean =
    c >= 0 && c < 64 && ((seps >>> c) & 1L) != 0L
}
