package graft.dom

/** Growable UTF-8 output buffer. Text extraction copies arena runs into it
  * and the renderer writes whole documents into it, so output is decoded
  * at most once (`toUtf8String`) or handed on as bytes (`toBytes`), never
  * built up char by char in UTF-16. */
final class Utf8Builder(initial: Int = 1 << 14) {
  var buf: Array[Byte] = new Array[Byte](math.max(initial, 16))
  var len: Int = 0

  def reset(): Unit = len = 0

  private def ensure(extra: Long): Unit = {
    // Long arithmetic: `cap * 2` wraps negative past 1 GiB
    val need = len + extra
    if (need > buf.length) {
      var cap = buf.length.toLong * 2
      while (cap < need) cap *= 2
      buf = java.util.Arrays.copyOf(buf, math.min(cap, (Int.MaxValue - 8).toLong).toInt)
    }
  }

  /** one byte; callers pass ASCII markup. */
  def appendByte(b: Byte): Unit = {
    if (len == buf.length) ensure(1)
    buf(len) = b
    len += 1
  }

  /** an ASCII-only literal (markup such as `<!--` or `&lt;`). */
  def appendAscii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
    len += n
  }

  def appendCodePoint(cp: Int): Unit = {
    ensure(4)
    if (cp < 0x80) { buf(len) = cp.toByte; len += 1 }
    else if (cp < 0x800) {
      buf(len) = (0xc0 | (cp >> 6)).toByte
      buf(len + 1) = (0x80 | (cp & 0x3f)).toByte
      len += 2
    } else if (cp < 0x10000) {
      buf(len) = (0xe0 | (cp >> 12)).toByte
      buf(len + 1) = (0x80 | ((cp >> 6) & 0x3f)).toByte
      buf(len + 2) = (0x80 | (cp & 0x3f)).toByte
      len += 3
    } else {
      buf(len) = (0xf0 | (cp >> 18)).toByte
      buf(len + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
      buf(len + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
      buf(len + 3) = (0x80 | (cp & 0x3f)).toByte
      len += 4
    }
  }

  /** a String's UTF-8 encoding as `getBytes(UTF_8)` gives it: an
    * unpaired surrogate becomes `?`, so the output stays well-formed. */
  def appendString(s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    appendBytes(b, 0, b.length)
  }

  /** raw UTF-8 bytes — memcpy (hot path for entity-free text runs). */
  def appendBytes(src: Array[Byte], off: Int, count: Int): Unit = {
    ensure(count)
    System.arraycopy(src, off, buf, len, count)
    len += count
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)

  /** the one decode of the whole output. */
  def toUtf8String: String = new String(buf, 0, len, java.nio.charset.StandardCharsets.UTF_8)
}
