package graft.selector

/** CSS selector IR mirroring mesdoc's `Selector { process: Vec<QueryProcess> }`
  * (reference `src/mesdoc/selector/mod.rs:72-84`): a comma group list, each a
  * list of compound segments, each compound a list of simple selectors with
  * an entry combinator (first) — the rest chain on the same element.
  * Compounds are priority-sorted at parse (id > class > name > attr/pseudo,
  * reference `selector/mod.rs:226-247`, priorities `constants.rs:11-16`) and
  * descendant/child-headed groups are split into `shouldIn` prefix +
  * selective `query` suffix (`selector/mod.rs:249-261`).
  */
object Combinator extends Enumeration {
  val ChildrenAll, Children, Parent, ParentAll, NextAll, Next, PrevAll, Prev,
      Siblings, Chain = Value

  def reverse(c: Value): Value = c match {
    case ChildrenAll => ParentAll
    case Children => Parent
    case NextAll => PrevAll
    case Next => Prev
    case Chain => Chain
    case ParentAll => ChildrenAll
    case Parent => Children
    case PrevAll => NextAll
    case Prev => Next
    case Siblings => Siblings
  }
}

/** A selector string operand, encoded once when the selector compiles:
  * its UTF-8 bytes, whether it is pure ASCII, and whether byte comparisons
  * decide String predicates on it exactly. They do unless the operand holds
  * an unpaired surrogate (its encoding is `?`, and the String could still
  * match half of a surrogate pair) or U+FFFD (the replacement a malformed
  * span decodes to); such operands always take the String path. */
final class Operand(val str: String) {
  val utf8: Array[Byte] = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  val ascii: Boolean = str.forall(_ < 0x80)
  val exact: Boolean = ascii || {
    var ok = true
    var i = 0
    while (ok && i < str.length) {
      val c = str.charAt(i)
      if (c == '\uFFFD') ok = false
      else if (Character.isHighSurrogate(c)) {
        if (i + 1 < str.length && Character.isLowSurrogate(str.charAt(i + 1))) i += 1
        else ok = false
      } else if (Character.isLowSurrogate(c)) ok = false
      i += 1
    }
    ok
  }
}

/** One simple selector rule with its matcher priority. Tag, class,
  * attribute and `:contains` rules carry their operands pre-encoded
  * ([[Operand]], computed once per compiled selector), so the engine
  * matches them on the arena's UTF-8 spans without building a String per
  * candidate element. A case the bytes cannot decide exactly decodes the
  * span and runs the String predicate instead:
  *  - a `class` value with any non-ASCII byte (class lists split at
  *    Unicode whitespace, `Character.isWhitespace`);
  *  - an attribute value that is not well-formed UTF-8 (decoding maps it
  *    to U+FFFD);
  *  - an operand that is not [[Operand.exact]];
  *  - for `:contains`, text with any run (one text node, CDATA or
  *    content-tag span) that is malformed on its own: `text()` decodes
  *    run by run, so bytes split across two nodes never join into one
  *    character.
  * The case-class fields (and so equality) stay the plain Strings. */
sealed abstract class Simple(val priority: Int)
object Simple {
  // priorities: reference src/mesdoc/constants.rs:11-16
  final val P_ALL = 0
  final val P_PSEUDO = 10
  final val P_NAME = 100
  final val P_CLASS = 1000
  final val P_ID = 10000

  case object All extends Simple(P_ALL)
  final case class Tag(lower: String) extends Simple(P_NAME) {
    /** `lower` as UTF-8: name spans compare to it with ASCII folding */
    val utf8: Array[Byte] = lower.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    /** its key in the arena's element-name index */
    val hash: Int = graft.dom.Arena.foldedHash(utf8, 0, utf8.length)
  }
  final case class Cls(name: String) extends Simple(P_CLASS) {
    val operand: Operand = new Operand(name)
  }
  final case class Id(name: String) extends Simple(P_ID)
  /** op: 0=presence '='/'^'/'$'/'*'/'|'/'~'/'!' per reference rules/attr.rs */
  final case class Attr(lowerKey: String, op: Char, value: String) extends Simple(P_PSEUDO) {
    /** `lowerKey` as UTF-8: key spans compare to it with ASCII folding */
    val keyUtf8: Array[Byte] = lowerKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    /** the value operand; null for a presence test */
    val operand: Operand = if (value == null) null else new Operand(value)
  }
  /** nth family. ofType=false => *-child; last=true => counting from end.
    * (n, idx) as in mesdoc Nth; hasN=false => constant index only. */
  final case class Nth(ofType: Boolean, last: Boolean, hasN: Boolean, n: Long, idx: Long)
      extends Simple(P_PSEUDO)
  case object OnlyChild extends Simple(P_PSEUDO)
  case object OnlyOfType extends Simple(P_PSEUDO)
  case object Root extends Simple(P_PSEUDO)
  case object Empty extends Simple(P_PSEUDO)
  case object Checked extends Simple(P_PSEUDO)
  final case class Contains(search: String) extends Simple(P_PSEUDO) {
    val operand: Operand = new Operand(search)
  }
  final case class Not(sel: Selector) extends Simple(P_PSEUDO) {
    /** `sel`'s comma groups as per-element compounds ([[Selector.compounds]]),
      * or null when `:not` must run the filter engine */
    val compounds: Array[Array[Simple]] = sel.compounds
  }
  final case class Has(sel: Selector) extends Simple(P_PSEUDO)
  /** :header/:input/:submit — alias expansion (reference constants.rs:24-27) */
  final case class Alias(sel: Selector) extends Simple(P_PSEUDO)

  /** rules whose answer depends on the element's siblings */
  def isPositional(s: Simple): Boolean = s match {
    case _: Nth | OnlyChild | OnlyOfType => true
    case _ => false
  }
}

/** compound = simples sharing one element; comb = entry combinator */
final case class Segment(comb: Combinator.Value, simples: List[Simple]) {
  def priority: Int = simples.map(_.priority).sum
}

final case class Process(shouldIn: Option[List[Segment]], query: List[Segment])

final case class Selector(process: List[Process]) {
  /** The comma groups as flat compounds when each group is one compound of
    * non-positional simples with no `shouldIn` prefix, else null. Such a
    * selector matches an element exactly when some compound's simples all
    * match it: `filter`/`is` apply the one segment as a chain, and a chain
    * of non-positional simples filters each element on its own. */
  lazy val compounds: Array[Array[Simple]] =
    if (process.forall(p => p.shouldIn.isEmpty && p.query.lengthCompare(1) == 0 &&
      !p.query.head.simples.exists(Simple.isPositional)))
      process.iterator.map(_.query.head.simples.toArray).toArray
    else null

  /** inject a head combinator (reference `selector/mod.rs:270-288`):
    * a ChildrenAll head is replaced; otherwise a `*` segment is prefixed. */
  def withHeadCombinator(comb: Combinator.Value): Selector =
    Selector(process.map { p =>
      def fix(segs: List[Segment]): List[Segment] = segs match {
        case head :: rest if head.comb == Combinator.ChildrenAll =>
          head.copy(comb = comb) :: rest
        case segs => Segment(comb, List(Simple.All)) :: segs
      }
      p.shouldIn match {
        case Some(si) => p.copy(shouldIn = Some(fix(si)))
        case None => p.copy(query = fix(p.query))
      }
    })
}

object Selector {
  val empty: Selector = Selector(Nil)

  def allWith(comb: Combinator.Value): Selector =
    Selector(List(Process(None, List(Segment(comb, List(Simple.All))))))

  /** Parse, returning Left(error) for invalid selectors — callers map errors
    * to the per-document error channel (invalid selector => empty result,
    * reference `tests/selector.rs:873-897`). Results are memoized per JVM:
    * selector ASTs are immutable and the reference likewise caches compiled
    * patterns (`selector/rule.rs:10-12`). */
  def parse(s: String, useLookup: Boolean = true): Either[String, Selector] = {
    val key = if (useLookup) "L:" + s else "N:" + s
    val hit = cache.get(key)
    if (hit != null) return hit
    val parsed = new SelectorParser(s, useLookup).parse()
    if (cache.size < 4096) cache.putIfAbsent(key, parsed)
    parsed
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Either[String, Selector]]()
}

/** Hand-written recursive-descent parser producing the same AST that
  * mesdoc's pattern meta-machinery builds (reference
  * `src/mesdoc/selector/{mod,rule,pattern}.rs` — the grammar machinery is an
  * implementation detail; the surface syntax is what we reproduce). */
private final class SelectorParser(s: String, useLookup: Boolean) {
  private var i = 0
  private val n = s.length

  private def peek: Char = if (i < n) s.charAt(i) else ' '
  private def ws(): Unit = { while (i < n && isWs(s.charAt(i))) i += 1 }
  private def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
  private def isIdentChar(c: Char) =
    Character.isLetterOrDigit(c) || c == '-' || c == '_' || c > 0x7f

  // parse state mirrors reference `selector/mod.rs:91-204`: combinators are
  // legal at Begin (leading `>`/`~`/`+` in find, tests method.rs:41-59), two
  // splitters in a row are an error, `,` requires a preceding selector, and
  // a trailing explicit combinator is an error while trailing spaces are ok.
  private object PrevIn extends Enumeration { val Begin, Splitter, Sel = Value }

  def parse(): Either[String, Selector] = {
    if (n == 0) return Right(Selector(Nil)) // reference: "" => empty process list
    try {
      val groups = scala.collection.mutable.ListBuffer[List[Segment]]()
      var curGroup = scala.collection.mutable.ListBuffer[Segment]()
      var prevIn = PrevIn.Begin
      var lastIn = prevIn
      while (i < n) {
        var sawWs = false
        while (i < n && isWs(s.charAt(i))) { i += 1; sawWs = true }
        if (i < n && (s.charAt(i) == '>' || s.charAt(i) == ',' || s.charAt(i) == '~' || s.charAt(i) == '+')) {
          val op = s.charAt(i)
          if (prevIn == PrevIn.Splitter) fail(s"wrong combinator '$op' at $i")
          i += 1
          ws()
          if (op == ',') {
            if (prevIn != PrevIn.Sel) fail(s"wrong empty selector before ',' at $i")
            groups += curGroup.toList
            curGroup = scala.collection.mutable.ListBuffer[Segment]()
            pendingComb = Combinator.ChildrenAll
          } else {
            pendingComb = op match {
              case '>' => Combinator.Children
              case '~' => Combinator.NextAll
              case '+' => Combinator.Next
            }
          }
          prevIn = PrevIn.Splitter
          lastIn = prevIn
        } else if (sawWs && i < n) {
          // descendant combinator
          if (prevIn == PrevIn.Splitter) fail("wrong combinator ' '")
          pendingComb = Combinator.ChildrenAll
          lastIn = prevIn
          prevIn = PrevIn.Splitter
        } else if (i < n) {
          // must be a compound starting here
          val simples = parseCompound()
          curGroup += Segment(pendingComb, simples)
          pendingComb = Combinator.ChildrenAll
          prevIn = PrevIn.Sel
          lastIn = prevIn
        }
        // else: trailing whitespace only — lastIn keeps its value
      }
      if (lastIn != PrevIn.Sel) fail("wrong selector rule at last")
      groups += curGroup.toList
      Right(optimize(groups.toList))
    } catch {
      case e: IllegalArgumentException => Left(e.getMessage)
    }
  }

  private var pendingComb: Combinator.Value = Combinator.ChildrenAll

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def parseCompound(): List[Simple] = {
    val simples = scala.collection.mutable.ListBuffer[Simple]()
    var go = true
    while (go && i < n) {
      val c = s.charAt(i)
      c match {
        case '*' => i += 1; simples += Simple.All
        case '.' =>
          i += 1
          val name = ident()
          if (name.isEmpty) fail("empty class name")
          simples += Simple.Cls(name)
        case '#' =>
          i += 1
          val name = ident()
          if (name.isEmpty) fail("empty id")
          simples += Simple.Id(name)
        case '[' => simples += parseAttrSel()
        case ':' => simples += parsePseudo()
        case ch if Character.isLetter(ch) || ch == '\\' =>
          val name = ident()
          if (name.isEmpty) fail(s"unrecognized selector at $i")
          simples += Simple.Tag(name.toLowerCase)
        case _ => go = false
      }
      if (go && i < n) {
        val nc = s.charAt(i)
        if (isWs(nc) || nc == '>' || nc == ',' || nc == '~' || nc == '+') go = false
      }
    }
    if (simples.isEmpty) fail(s"unrecognized selector at $i")
    simples.toList
  }

  /** identity with `\`-escape (reference pattern `{identity}`,
    * tag `FORM\:ITEM` test `tests/selector.rs:121-127`). */
  private def ident(): String = {
    val sb = new java.lang.StringBuilder()
    var go = true
    while (go && i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) { sb.append(s.charAt(i + 1)); i += 2 }
      else if (isIdentChar(c)) { sb.append(c); i += 1 }
      else go = false
    }
    sb.toString
  }

  /** `[{spaces}{attr_key}{spaces}(op= value)?{spaces}]`
    * (reference rules/attr.rs:8-22). */
  private def parseAttrSel(): Simple = {
    i += 1 // '['
    ws()
    val keyStart = i
    while (i < n && (isIdentChar(s.charAt(i)) || s.charAt(i) == ':' || s.charAt(i) == '.')) i += 1
    val key = s.substring(keyStart, i)
    if (key.isEmpty) fail("empty attr key")
    ws()
    var op: Char = 0
    var value: String = null
    if (i < n && s.charAt(i) != ']') {
      val c = s.charAt(i)
      if (c == '^' || c == '$' || c == '*' || c == '|' || c == '~' || c == '!') {
        op = c; i += 1
        if (i >= n || s.charAt(i) != '=') fail("expected '=' in attr selector")
        i += 1
      } else if (c == '=') { op = '='; i += 1 }
      else fail(s"unexpected '$c' in attr selector")
      ws()
      if (i < n && (s.charAt(i) == '\'' || s.charAt(i) == '"')) {
        val q = s.charAt(i); i += 1
        val sb = new java.lang.StringBuilder()
        while (i < n && s.charAt(i) != q) {
          // mesdoc's regex `'((?:\\?+.)*?)'` KEEPS the backslash in the
          // captured value; it only stops the quote from terminating
          // (reference selector/pattern.rs:357-366, rules/attr.rs:11)
          if (s.charAt(i) == '\\' && i + 1 < n) { sb.append('\\').append(s.charAt(i + 1)); i += 2 }
          else { sb.append(s.charAt(i)); i += 1 }
        }
        if (i >= n) fail("unterminated attr value")
        i += 1
        value = sb.toString
      } else {
        // bare value: [^\s\]'"<>/=`]+
        val vs = i
        while (i < n && !isWs(s.charAt(i)) && "]'\"<>/=`".indexOf(s.charAt(i)) < 0) i += 1
        if (i == vs) fail("empty bare attr value")
        value = s.substring(vs, i)
      }
      if (op == 0) op = '='
    }
    ws()
    if (i >= n || s.charAt(i) != ']') fail("unterminated attr selector")
    i += 1
    Simple.Attr(key.toLowerCase, if (value == null) 0.toChar else op, value)
  }

  private def parsePseudo(): Simple = {
    i += 1 // ':'
    val nameStart = i
    while (i < n && (Character.isLetter(s.charAt(i)) || s.charAt(i) == '-')) i += 1
    val name = s.substring(nameStart, i).toLowerCase
    name match {
      case "root" => Simple.Root
      case "empty" => Simple.Empty
      case "checked" => Simple.Checked
      case "only-child" => Simple.OnlyChild
      case "only-of-type" => Simple.OnlyOfType
      case "first-child" => Simple.Nth(ofType = false, last = false, hasN = false, 0, 1)
      case "last-child" => Simple.Nth(ofType = false, last = true, hasN = false, 0, 1)
      case "first-of-type" => Simple.Nth(ofType = true, last = false, hasN = false, 0, 1)
      case "last-of-type" => Simple.Nth(ofType = true, last = true, hasN = false, 0, 1)
      case "nth-child" => parseNthArgs(ofType = false, last = false)
      case "nth-last-child" => parseNthArgs(ofType = false, last = true)
      case "nth-of-type" => parseNthArgs(ofType = true, last = false)
      case "nth-last-of-type" => parseNthArgs(ofType = true, last = true)
      case "not" => Simple.Not(parseNestedSelector())
      case "has" => Simple.Has(parseNestedSelector())
      case "contains" => parseContains()
      case "header" => alias("h1,h2,h3,h4,h5,h6")
      case "input" => alias("input,select,textarea,button")
      case "submit" => alias("input[type='submit'],button[type='submit']")
      case other => fail(s"unknown pseudo ':$other'")
    }
  }

  private def alias(sel: String): Simple =
    Simple.Alias(Selector.parse(sel, useLookup = false).fold(e => fail(e), identity))

  private def parseNthArgs(ofType: Boolean, last: Boolean): Simple = {
    expect('(')
    ws()
    // nth grammar (reference pattern.rs:189-246): [+-]?\d*n([+-]\d+)? | [+-]?\d+ | even | odd
    if (matchWord("even")) { ws(); expect(')'); return Simple.Nth(ofType, last, hasN = true, 2, 0) }
    if (matchWord("odd")) { ws(); expect(')'); return Simple.Nth(ofType, last, hasN = true, 2, 1) }
    var sign = 1L
    if (peek == '+' || peek == '-') { if (peek == '-') sign = -1; i += 1 }
    var digits = 0L
    var hasDigits = false
    // overflow = invalid selector (the reference's Rust str::parse errors
    // out); silent Long wrap would turn a nonsense index into nth(1)
    while (i < n && Character.isDigit(s.charAt(i))) {
      digits = digits * 10 + (s.charAt(i) - '0')
      if (digits < 0 || digits > Int.MaxValue) fail("nth argument out of range")
      i += 1; hasDigits = true
    }
    if (i < n && (s.charAt(i) == 'n' || s.charAt(i) == 'N')) {
      i += 1
      val nCoef = sign * (if (hasDigits) digits else 1L)
      ws()
      var idx = 0L
      if (peek == '+' || peek == '-') {
        val isign = if (peek == '-') -1L else 1L
        i += 1
        ws()
        var d = 0L
        var hd = false
        while (i < n && Character.isDigit(s.charAt(i))) {
          d = d * 10 + (s.charAt(i) - '0')
          if (d < 0 || d > Int.MaxValue) fail("nth index out of range")
          i += 1; hd = true
        }
        if (!hd) fail("bad nth index")
        idx = isign * d
      }
      ws(); expect(')')
      Simple.Nth(ofType, last, hasN = true, nCoef, idx)
    } else {
      if (!hasDigits) fail("bad nth argument")
      ws(); expect(')')
      Simple.Nth(ofType, last, hasN = false, 0, sign * digits)
    }
  }

  private def matchWord(w: String): Boolean = {
    if (i + w.length <= n && s.regionMatches(true, i, w, 0, w.length)) { i += w.length; true }
    else false
  }

  private def expect(c: Char): Unit = {
    if (i >= n || s.charAt(i) != c) fail(s"expected '$c' at $i")
    i += 1
  }

  /** nested full selector for :not()/:has() — balanced-paren scan then
    * recursive parse (reference `selector/mod.rs:316-381`). */
  private def parseNestedSelector(): Selector = {
    expect('(')
    val start = i
    var depth = 1
    var inQuote: Char = 0
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (inQuote != 0) {
        if (c == '\\') i += 1
        else if (c == inQuote) inQuote = 0
      } else c match {
        case '\'' | '"' => inQuote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      if (depth > 0) i += 1
    }
    if (depth != 0) fail("unbalanced nested selector")
    val inner = s.substring(start, i).trim
    i += 1 // ')'
    Selector.parse(inner, useLookup = false).fold(e => fail(e), identity)
  }

  /** :contains('txt') / :contains("txt") / :contains(txt) / :contains()
    * (reference rules/pseudo.rs:855-894). */
  private def parseContains(): Simple = {
    expect('(')
    ws()
    val c = peek
    val search: String =
      if (c == '\'' || c == '"') {
        i += 1
        val sb = new java.lang.StringBuilder()
        while (i < n && s.charAt(i) != c) {
          // backslash retained in the search text, as in the reference's
          // `:contains` capture regex (reference rules/pseudo.rs:857)
          if (s.charAt(i) == '\\' && i + 1 < n) { sb.append('\\').append(s.charAt(i + 1)); i += 2 }
          else { sb.append(s.charAt(i)); i += 1 }
        }
        if (i >= n) fail("unterminated :contains")
        i += 1
        sb.toString
      } else {
        val vs = i
        while (i < n && ")  '\"<>/=`".indexOf(s.charAt(i)) < 0 && !isWs(s.charAt(i))) i += 1
        s.substring(vs, i)
      }
    ws(); expect(')')
    Simple.Contains(search)
  }

  /** priority sort within compounds + lookup split
    * (reference `selector/mod.rs:220-268`). */
  private def optimize(groups: List[List[Segment]]): Selector = {
    val processes = groups.map { group =>
      // sort each compound's simples by priority desc (stable)
      val sorted = group.map(seg => seg.copy(simples = seg.simples.sortBy(-_.priority)))
      if (useLookup && sorted.length > 1) {
        val priorities = sorted.map(_.priority)
        val maxIdx = priorities.zipWithIndex.maxBy { case (p, idx) => (p, -idx) }._2
        val headComb = sorted.head.comb
        if (maxIdx > 0 &&
          (headComb == Combinator.Children || headComb == Combinator.ChildrenAll)) {
          val (prefix, suffix) = sorted.splitAt(maxIdx)
          Process(Some(prefix), suffix)
        } else Process(None, sorted)
      } else Process(None, sorted)
    }
    Selector(processes)
  }
}
