package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Repetition signals — the Gopher-rule (Rae et al. 2021, §A1.1) text
  * repetitiousness measures an LLM-data quality filter cuts on. Boilerplate
  * that survives DOM stripping (cookie banners, nav crumbs repeated per
  * section, SEO keyword stuffing) shows up here as duplicate lines /
  * paragraphs / dominant n-grams long before a language model sees it.
  *
  * One pass per row, bounded by the row's own size; `repetition_signals(text)`
  * lowers to one static call in generated code, never a UDF.
  *
  * Exact definitions (pinned by the DuckDB oracle + RepetitionSpec):
  *  - *lines*: `text` split on `'\n'`; zero-length lines are excluded
  *    (they are paragraph separators, not content).
  *  - *paragraphs*: split on `"\n\n"`, empties excluded.
  *  - `dup_*_frac` = (n - n_distinct) / n — the fraction of units that
  *    are repeat occurrences of an earlier identical unit.
  *  - `dup_*_char_frac` = code points in those repeat occurrences / code
  *    points in all units (paragraph chars include internal newlines).
  *  - *words*: maximal runs of non-whitespace; `top_bigram_char_frac` =
  *    codepoints of words covered by at least one occurrence of the most
  *    frequent word 2-gram / total word codepoints (union coverage — the
  *    paper's "characters contained within"; a count×length product would
  *    double-count overlapping occurrences like `x x x` and exceed 1).
  *    Frequency ties break to the earliest first occurrence. Fewer than
  *    2 words → 0.0.
  *  - empty denominators → 0.0; NULL text → NULL.
  */
object Repetition extends Serializable {

  /** (dupFrac, dupCharFrac) over a sequence of non-empty units. */
  private def dupStats(units: java.util.ArrayList[String]): (Double, Double) = {
    val n = units.size
    if (n == 0) return (0.0, 0.0)
    val seen = new java.util.HashSet[String](n * 2)
    var dupCount = 0L
    var dupChars = 0L
    var totalChars = 0L
    var i = 0
    while (i < n) {
      val u = units.get(i)
      val chars = u.codePointCount(0, u.length).toLong
      totalChars += chars
      if (!seen.add(u)) { dupCount += 1; dupChars += chars }
      i += 1
    }
    (dupCount.toDouble / n,
      if (totalChars == 0) 0.0 else dupChars.toDouble / totalChars)
  }

  private def splitUnits(text: String, sep: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    var from = 0
    val sl = sep.length
    while (from <= text.length) {
      val at = text.indexOf(sep, from)
      val end = if (at < 0) text.length else at
      if (end > from) out.add(text.substring(from, end))
      if (at < 0) from = text.length + 1 else from = at + sl
    }
    out
  }

  /** top word-bigram coverage: codepoints of words covered by ≥1
    * occurrence of the top bigram / total word codepoints (union
    * coverage — see the object-level doc; a word in several occurrences
    * counts once). */
  private def topBigramCharFrac(text: String): Double = {
    // words: maximal non-whitespace runs
    val words = new java.util.ArrayList[String]()
    var i = 0
    var totalWordChars = 0L
    while (i < text.length) {
      if (!Character.isWhitespace(text.charAt(i))) {
        val start = i
        while (i < text.length && !Character.isWhitespace(text.charAt(i))) i += 1
        val w = text.substring(start, i)
        words.add(w)
        totalWordChars += w.codePointCount(0, w.length)
      } else i += 1
    }
    val n = words.size
    if (n < 2 || totalWordChars == 0) return 0.0
    // count[bigram], firstIdx[bigram] — tie breaks to earliest occurrence
    val count = new java.util.HashMap[String, Array[Long]](n * 2)
    val keys = new java.util.ArrayList[String](n - 1)
    var j = 0
    while (j < n - 1) {
      // single-space join: words never contain whitespace, so the key
      // is unambiguous
      val key = words.get(j) + " " + words.get(j + 1)
      keys.add(key)
      val slot = count.get(key)
      if (slot == null) count.put(key, Array(1L, j.toLong))
      else slot(0) += 1
      j += 1
    }
    var bestCount = 0L
    var bestFirst = Long.MaxValue
    var bestKey: String = null
    val it = count.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      val first = e.getValue()(1)
      if (c > bestCount || (c == bestCount && first < bestFirst)) {
        bestCount = c
        bestFirst = first
        bestKey = e.getKey
      }
    }
    // union coverage: codepoints of words under >=1 occurrence of bestKey
    val covered = new Array[Boolean](n)
    j = 0
    while (j < n - 1) {
      if (keys.get(j) == bestKey) { covered(j) = true; covered(j + 1) = true }
      j += 1
    }
    var coveredChars = 0L
    j = 0
    while (j < n) {
      if (covered(j)) {
        val w = words.get(j)
        coveredChars += w.codePointCount(0, w.length)
      }
      j += 1
    }
    coveredChars.toDouble / totalWordChars
  }

  /** the five signals as doubles, in struct field order. Null-safe. */
  def signals(text: String): Array[Double] = {
    if (text == null) return null
    val (dlf, dlcf) = dupStats(splitUnits(text, "\n"))
    val (dpf, dpcf) = dupStats(splitUnits(text, "\n\n"))
    Array(dlf, dlcf, dpf, dpcf, topBigramCharFrac(text))
  }

  /** codegen static entry: UTF8String in, InternalRow out, null-tolerant. */
  def signalsCodegen(text: UTF8String): InternalRow = {
    if (text == null) return null
    try {
      val v = signals(text.toString)
      new GenericInternalRow(Array[Any](v(0), v(1), v(2), v(3), v(4)))
    } catch {
      case scala.util.control.NonFatal(_) => null
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("dup_para_frac", DoubleType, nullable = false),
    StructField("dup_para_char_frac", DoubleType, nullable = false),
    StructField("top_bigram_char_frac", DoubleType, nullable = false)))
}
