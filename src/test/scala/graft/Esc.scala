package graft

/** Strings for assertion messages, escaped to printable ASCII: every char
  * outside 0x20..0x7e is written as `\uXXXX` (an unpaired surrogate
  * included). A message holding an unpaired surrogate as-is cannot be
  * encoded by the forked test harness's UTF-8 writer, and the failure
  * would be lost with the harness instead of reported per test. */
object Esc {
  def apply(s: String): String =
    if (s == null) "null"
    else {
      val sb = new java.lang.StringBuilder(s.length + 16)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c >= 0x20 && c < 0x7f && c != '\\') sb.append(c)
        else if (c == '\\') sb.append("\\\\")
        else sb.append(f"\\u${c.toInt}%04x")
        i += 1
      }
      sb.toString
    }

  /** bytes as ASCII text with every other byte as `\xNN`. */
  def bytes(b: Array[Byte]): String =
    b.map(x => if (x >= 0x20 && x < 0x7f && x != '\\') x.toChar.toString else f"\\x${x & 0xff}%02x").mkString
}
