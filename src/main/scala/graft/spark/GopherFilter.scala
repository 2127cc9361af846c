package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The Gopher quality-filter rule set (Rae et al. 2021, appendix A1.1) —
  * the document-level heuristics every public LLM-data pipeline since
  * (MassiveText, RefinedWeb, Dolma, FineWeb) cuts on before anything
  * expensive runs. Applied right after extraction it removes the bulk of
  * menu fragments, listing pages, and symbol soup at the cost of one
  * scalar pass per row — at 100 TB this filter is the difference between
  * deduplicating everything and deduplicating the ~half that could ever
  * be training data. Composes with [[Repetition]] (the same paper's
  * repetitiousness rules) via [[TextOps.gopherQuality]].
  *
  * One pass per row, bounded by the row's own size; `gopher_quality(text)`
  * lowers to one static call in generated code, never a UDF.
  *
  * Exact definitions (pinned by the DuckDB oracle + GopherSpec):
  *  - *words*: maximal runs of non-whitespace; lengths in codepoints.
  *    Whitespace is `Character.isWhitespace` — DELIBERATELY wider than
  *    the ASCII `\s` the oracle's regexes use (U+2028/29, U+3000, the
  *    U+2000 block also split words here). The oracle corpus is pinned
  *    to ASCII spacing, so the gate stays exact; on real crawl text the
  *    Unicode split is the better word model and the documented
  *    divergence (same convention in [[Repetition]]).
  *  - `word_count`, `mean_word_len` (0.0 when no words).
  *  - `symbol_word_ratio` = (`#` occurrences + `…` occurrences +
  *    non-overlapping greedy `...` occurrences) / word_count — the
  *    paper's "symbol-to-word ratio" for the hash/ellipsis symbols.
  *  - *lines*: split on `'\n'`, excluding lines empty after space/tab
  *    trim. `bullet_line_frac` = lines whose first char after leading
  *    space/tab is one of `•`, `‣`, `▪`, `-`, `*`; `ellipsis_line_frac`
  *    = lines ending (after trailing space/tab trim) in `...` or `…`.
  *  - `alpha_word_frac` = words containing at least one ASCII letter /
  *    word_count (ASCII by design: deterministic cross-engine, and the
  *    rule targets English corpora as in the paper).
  *  - `stopword_hits` = DISTINCT members of the paper's stop-word set
  *    {the, be, to, of, and, that, have, with} present as lowercased
  *    words (punctuation-trimmed on both ends: `The` and `the,` hit).
  *  - `passes` = 50 ≤ word_count ≤ 100000 AND 3 ≤ mean_word_len ≤ 10
  *    AND symbol_word_ratio < 0.1 AND bullet_line_frac ≤ 0.9 AND
  *    ellipsis_line_frac ≤ 0.3 AND alpha_word_frac ≥ 0.8 AND
  *    stopword_hits ≥ 2.
  *  - NULL text → NULL row. */
object GopherFilter extends Serializable {

  private val Bullets = Set('•', '‣', '▪', '-', '*')
  val Stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def asciiAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** trim non-ASCII-alphanumerics from both ends for the stop-word check
    * only (ASCII by design, like `alpha_word_frac` — cross-engine exact). */
  private def trimPunct(w: String): String = {
    var s = 0
    var e = w.length
    while (s < e && !asciiAlnum(w.charAt(s))) s += 1
    while (e > s && !asciiAlnum(w.charAt(e - 1))) e -= 1
    if (s == 0 && e == w.length) w else w.substring(s, e)
  }

  /** all eight struct values in field order; null in → null out. */
  def signals(text: String): Array[Any] = {
    if (text == null) return null
    // ---- words
    var wc = 0L
    var wordChars = 0L
    var alphaWords = 0L
    val stopsSeen = new java.util.HashSet[String](16)
    var i = 0
    val n = text.length
    while (i < n) {
      if (!Character.isWhitespace(text.charAt(i))) {
        val start = i
        var hasAlpha = false
        while (i < n && !Character.isWhitespace(text.charAt(i))) {
          val c = text.charAt(i)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
          i += 1
        }
        val w = text.substring(start, i)
        wc += 1
        wordChars += w.codePointCount(0, w.length)
        if (hasAlpha) alphaWords += 1
        val t = trimPunct(w).toLowerCase(java.util.Locale.ROOT)
        if (t.length >= 2 && t.length <= 4 && Stopwords.contains(t)) stopsSeen.add(t)
      } else i += 1
    }
    val meanWordLen = if (wc == 0) 0.0 else wordChars.toDouble / wc
    // ---- symbols: '#', '…', greedy non-overlapping "..."
    var symbols = 0L
    i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '#' || c == '…') { symbols += 1; i += 1 }
      else if (c == '.' && i + 2 < n && text.charAt(i + 1) == '.' && text.charAt(i + 2) == '.') {
        symbols += 1; i += 3
      } else i += 1
    }
    val symbolRatio = if (wc == 0) 0.0 else symbols.toDouble / wc
    // ---- lines
    var lines = 0L
    var bulletLines = 0L
    var ellipsisLines = 0L
    var from = 0
    while (from <= n) {
      val at = text.indexOf('\n', from)
      val end = if (at < 0) n else at
      // leading / trailing space-tab trim
      var s = from
      while (s < end && (text.charAt(s) == ' ' || text.charAt(s) == '\t')) s += 1
      var e = end
      while (e > s && (text.charAt(e - 1) == ' ' || text.charAt(e - 1) == '\t')) e -= 1
      if (e > s) {
        lines += 1
        if (Bullets.contains(text.charAt(s))) bulletLines += 1
        if (text.charAt(e - 1) == '…' ||
          (e - s >= 3 && text.charAt(e - 1) == '.' && text.charAt(e - 2) == '.' &&
            text.charAt(e - 3) == '.')) ellipsisLines += 1
      }
      if (at < 0) from = n + 1 else from = at + 1
    }
    val bulletFrac = if (lines == 0) 0.0 else bulletLines.toDouble / lines
    val ellipsisFrac = if (lines == 0) 0.0 else ellipsisLines.toDouble / lines
    val alphaFrac = if (wc == 0) 0.0 else alphaWords.toDouble / wc
    val hits = stopsSeen.size.toLong
    val passes = wc >= 50L && wc <= 100000L &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      symbolRatio < 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && hits >= 2L
    Array[Any](wc, meanWordLen, symbolRatio, bulletFrac, ellipsisFrac,
      alphaFrac, hits, passes)
  }

  /** codegen static entry: UTF8String in, InternalRow out, null-tolerant. */
  def signalsCodegen(text: UTF8String): InternalRow = {
    if (text == null) return null
    try new GenericInternalRow(signals(text.toString))
    catch { case scala.util.control.NonFatal(_) => null }
  }

  val schema: StructType = StructType(Seq(
    StructField("word_count", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_word_ratio", DoubleType, nullable = false),
    StructField("bullet_line_frac", DoubleType, nullable = false),
    StructField("ellipsis_line_frac", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("stopword_hits", LongType, nullable = false),
    StructField("passes", BooleanType, nullable = false)))
}
