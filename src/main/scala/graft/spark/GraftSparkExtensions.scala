package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** One argument of a [[SqlFunction]]: its name in signatures and error
  * messages, and the types it accepts (the first is the one an untyped
  * NULL is given). */
final case class SqlArg(name: String, types: Seq[DataType]) {
  def accepts(t: DataType): Boolean = t == NullType || types.contains(t)
}

/** One row of the registration table: a SQL function and the static entry
  * it lowers to.
  *
  * @param owner        the object holding the entries (`Extractor.getClass`)
  * @param strEntry     entry taking the first argument as `UTF8String`
  *                     (null when the function takes BINARY only)
  * @param binEntry     entry taking it as `byte[]` (null: STRING only)
  * @param nullAware    NULL arguments reach the entry, which decides;
  *                     otherwise any NULL argument gives NULL
  * @param optionalLast the last argument may be omitted and is then a NULL
  *                     of its declared type
  * @param summary      the `DESCRIBE FUNCTION` usage line */
final case class SqlFunction(name: String, args: Seq[SqlArg], result: DataType,
    owner: Class[_], strEntry: String, binEntry: String = null,
    nullAware: Boolean = false, optionalLast: Boolean = false, summary: String) {
  def signature: String = {
    val names = args.map(_.name)
    if (optionalLast) s"$name(${names.init.mkString(", ")}[, ${names.last}])"
    else s"$name(${names.mkString(", ")})"
  }
}

/** A call of one [[SqlFunction]]. Analysis checks each argument against
  * the row, so `extract_text(123, 'p')` is an analysis error rather than
  * an implicit cast. The optimizer then swaps the call for
  * [[replacement]]: one `StaticInvoke` of the row's entry, which
  * whole-stage codegen emits as one static call per row and the
  * interpreted path runs by reflection. The arena reuse and the
  * parse-once memo live in the entries. Code that evaluates a call
  * directly must evaluate `replacement` (`RuntimeReplaceable.eval`
  * throws). */
case class GraftFunction(fn: SqlFunction, children: Seq[Expression]) extends RuntimeReplaceable {
  override def prettyName: String = fn.name
  override def dataType: DataType = fn.result
  override def nullable: Boolean = true
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    fn.args.zip(children).collectFirst {
      case (a, c) if !a.accepts(c.dataType) =>
        TypeCheckResult.TypeCheckFailure(s"${fn.name}: ${a.name} must be " +
          s"${a.types.map(_.sql).mkString(" or ")}, got ${c.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  // an untyped NULL is retyped: StaticInvoke finds its method by the
  // argument classes it derives from their data types
  override lazy val replacement: Expression = {
    val args = fn.args.zip(children).map { case (a, c) =>
      if (c.dataType == NullType) Literal(null, a.types.head) else c
    }
    val entry = if (args.head.dataType == BinaryType) fn.binEntry else fn.strEntry
    StaticInvoke(fn.owner, fn.result, entry, args,
      propagateNull = !fn.nullAware, returnNullable = true)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** SparkSessionExtensions hook: set
  * `spark.sql.extensions=graft.spark.GraftSparkExtensions` and every
  * function of [[GraftSparkExtensions.functions]] becomes available to
  * `spark.sql` / `call_function`. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.functions.foreach { fn =>
      ext.injectFunction((FunctionIdentifier(fn.name),
        new ExpressionInfo(classOf[GraftFunction].getName, null, fn.name,
          s"_FUNC_${fn.signature.stripPrefix(fn.name)} - ${fn.summary}",
          "", "", "", "", "", "", ""),
        GraftSparkExtensions.build(fn) _))
    }
}

object GraftSparkExtensions {
  private def str(name: String) = SqlArg(name, Seq(StringType))
  private def strOrBin(name: String) = SqlArg(name, Seq(StringType, BinaryType))
  private def bin(name: String) = SqlArg(name, Seq(BinaryType))
  private def strings(names: String*) = names.map(str)
  private val html = strOrBin("html")
  private val body = strOrBin("body")
  private val strArray = ArrayType(StringType, containsNull = false)
  private def struct(fields: (String, DataType, Boolean)*) =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
  private def stringStruct(nullable: Boolean, names: String*) =
    struct(names.map(n => (n, StringType: DataType, nullable)): _*)

  private val Ex = Extractor.getClass
  private val Url = UrlOps.getClass

  /** Every SQL function, in registration order. */
  val functions: Seq[SqlFunction] = Seq(
    // extraction tier (Extractor)
    SqlFunction("extract_text", Seq(html, str("selector")), StringType, Ex,
      "extractTextCodegen", "extractTextCodegenBinary", summary =
        "The concatenated text() of the selector's matches in document order " +
        "(Vis::load(html).find(selector).text()). html is STRING or UTF-8 BINARY."),
    SqlFunction("extract_main", Seq(html), StringType, Ex,
      "extractMainCodegenStr", "extractMainCodegen", summary =
        "The main-content text: the full boilerplate-strip recipe as one scalar."),
    SqlFunction("extract_main_crawl", Seq(html), StringType, Ex,
      "extractMainCrawlCodegenStr", "extractMainCrawlCodegen", summary =
        "extract_main under the HTML5 implicit-tree parse profile: the implied " +
        "body gives fragment pages a body candidate."),
    SqlFunction("extract_attrs", Seq(html, str("selector"), str("attr")), strArray, Ex,
      "extractAttrsCodegen", "extractAttrsCodegenBinary", summary =
        "ARRAY<STRING> of attr(attr) per selector match in document order; " +
        "boolean attributes yield ''."),
    SqlFunction("extract_count", Seq(html, str("selector")), LongType, Ex,
      "extractCountCodegen", "extractCountCodegenBinary", summary =
        "The number of selector matches as BIGINT."),
    SqlFunction("extract_html", Seq(html, str("selector")), strArray, Ex,
      "extractOuterHtmlCodegen", "extractOuterHtmlCodegenBinary", summary =
        "ARRAY<STRING> of outerHtml() per selector match in document order."),
    // charset tier (CharsetOps): a NULL content_type means "no transport
    // information", so a row with a missing header still sniffs
    SqlFunction("charset_of", Seq(bin("html"), str("content_type")), StringType,
      CharsetOps.getClass, null, "sniffCodegen", nullAware = true, optionalLast = true,
      summary = "The sniffed canonical encoding name (WHATWG precedence: BOM > " +
        "Content-Type charset > meta prescan > UTF-8 validity / windows-1252)."),
    SqlFunction("decode_html", Seq(bin("html"), str("content_type")), BinaryType,
      CharsetOps.getClass, null, "decodeCodegen", nullAware = true, optionalLast = true,
      summary = "The payload transcoded to UTF-8 bytes (zero-copy when already " +
        "valid UTF-8), ready for the extract_* family."),
    // URL tier (UrlOps): malformed URLs give NULL, never an exception
    SqlFunction("url_resolve", strings("base", "ref"), StringType, Url,
      "resolveCodegen", summary =
        "RFC 3986 section 5.2.2 strict reference resolution; NULL when base is not absolute."),
    SqlFunction("url_normalize", strings("url"), StringType, Url, "normalizeCodegen",
      summary = "RFC 3986 syntax normalization plus scheme defaults, fragment " +
        "dropped: the canonical crawl-identity key."),
    SqlFunction("url_host", strings("url"), StringType, Url, "hostCodegen", summary =
      "The lowercase host of an absolute URL (IPv6 brackets stripped); NULL when absent."),
    SqlFunction("url_domain", strings("url"), StringType, Url, "domainCodegen", summary =
      "The registrable domain, approximated: the last two labels, three under " +
      "generic ccTLD SLDs like co.uk."),
    // HTTP caching headers (HttpOps, RFC 9110/9111)
    SqlFunction("http_date", strings("http_date_string"), LongType, HttpOps.getClass,
      "dateCodegen", summary = "Epoch seconds of an HTTP-date in any RFC 9110 " +
        "format (IMF-fixdate, rfc850, asctime); NULL when unparseable."),
    // absent headers are the normal case and select the freshness rule
    SqlFunction("http_fresh_seconds",
      strings("cache_control", "age", "expires", "date", "last_modified"), LongType,
      HttpOps.getClass, "freshCodegen", nullAware = true, summary =
        "Remaining freshness per RFC 9111 section 4.2 (no-store/no-cache 0, then " +
        "s-maxage, max-age, Expires - Date, the 10% heuristic), minus Age, floored " +
        "at 0; NULL only when no rule applies."),
    SqlFunction("url_path", strings("url"), StringType, Url, "pathCodegen", summary =
      "Path and query of an absolute URL in robots match-target form ('/' when " +
      "empty, fragment dropped); NULL for authority-less refs."),
    SqlFunction("extract_main_density", Seq(html), StringType, DensityExtract.getClass,
      "extractCodegen", "extractCodegenBinary", summary =
        "Selector-free block / link-density main-content extraction."),
    // text-quality tier
    SqlFunction("repetition_signals", strings("text"), Repetition.schema,
      Repetition.getClass, "signalsCodegen", summary =
        "The Gopher repetition measures: STRUCT<dup_line_frac, dup_line_char_frac, " +
        "dup_para_frac, dup_para_char_frac, top_bigram_char_frac>."),
    SqlFunction("scrub_cards", strings("text"), StringType, TextNorm.getClass,
      "scrubCardsCodegen", summary = "Luhn-gated card-number redaction."),
    SqlFunction("scrub_pii", strings("text"), StringType, TextNorm.getClass,
      "scrubPiiCodegen", summary = "Email, IPv4 and phone-number redaction."),
    SqlFunction("fix_text", strings("text"), StringType, TextNorm.getClass,
      "fixTextCodegen", summary =
        "Mojibake repair, then NFC, then control-character strip."),
    SqlFunction("gopher_quality", strings("text"), GopherFilter.schema,
      GopherFilter.getClass, "signalsCodegen", summary =
        "The Gopher quality rules: STRUCT<word_count, mean_word_len, " +
        "symbol_word_ratio, bullet_line_frac, ellipsis_line_frac, alpha_word_frac, " +
        "stopword_hits, passes>."),
    SqlFunction("url_surt", strings("url"), StringType, Url, "surtCodegen", summary =
      "The SURT key (CDX-index form): host-reversed authority, lowercased path, " +
      "bytewise-sorted query."),
    // link extraction (Extractor): unresolvable hrefs are skipped
    SqlFunction("extract_links", Seq(html, str("base_url")), strArray, Ex,
      "extractLinksCodegen", "extractLinksCodegenBinary", summary =
        "Every a[href] in document order, resolved against the page's effective " +
        "base (the first base[href], itself resolved against base_url) and normalized."),
    SqlFunction("extract_anchors", Seq(html, str("base_url")),
      ArrayType(stringStruct(false, "href", "text"), containsNull = false), Ex,
      "extractAnchorsCodegen", "extractAnchorsCodegenBinary", summary =
        "Every a[href] in document order as ARRAY<STRUCT<href, text>>: the target " +
        "as extract_links gives it, plus its anchor text."),
    SqlFunction("extract_canonical", Seq(html, str("base_url")), StringType, Ex,
      "extractCanonicalCodegen", "extractCanonicalCodegenBinary", summary =
        "The first link[rel~=canonical][href], resolved against the document base " +
        "and normalized."),
    SqlFunction("extract_refresh", Seq(html, str("base_url")), StringType, Ex,
      "extractRefreshCodegen", "extractRefreshCodegenBinary", summary =
        "The meta[http-equiv=refresh] redirect target, resolved and normalized."),
    // robots tier (RobotsOps, RFC 9309)
    SqlFunction("robots_allowed", strings("robots_txt", "agent", "path"), BooleanType,
      RobotsOps.getClass, "allowedCodegen", nullAware = true, summary =
        "Whether agent may fetch path. A NULL robots_txt (none published) is TRUE; " +
        "a NULL agent or path beside a robots.txt is NULL."),
    SqlFunction("robots_crawl_delay", strings("robots_txt", "agent"), DoubleType,
      RobotsOps.getClass, "crawlDelayCodegen", summary =
        "The selected group's Crawl-delay in seconds; NULL when undeclared."),
    SqlFunction("robots_sitemaps", strings("robots_txt"), strArray, RobotsOps.getClass,
      "sitemapsCodegen", summary = "Every Sitemap line, in file order."),
    // sitemap tier (SitemapOps): BINARY bodies may be gzipped
    SqlFunction("sitemap_kind", Seq(body), StringType, SitemapOps.getClass,
      "kindCodegenStr", "kindCodegen", summary =
        "'urlset', 'index' or 'text'; NULL when the body is not a sitemap."),
    SqlFunction("sitemap_entries", Seq(body),
      ArrayType(struct(("loc", StringType, false), ("lastmod", StringType, true),
        ("changefreq", StringType, true), ("priority", DoubleType, true)),
        containsNull = false),
      SitemapOps.getClass, "entriesCodegenStr", "entriesCodegen", summary =
        "ARRAY<STRUCT<loc, lastmod, changefreq, priority>> in file order; NULL " +
        "when the body is not a sitemap."),
    SqlFunction("sitemap_in_scope", strings("sitemap_url", "url"), BooleanType,
      SitemapOps.getClass, "inScopeCodegen", summary =
        "The sitemaps.org location rule: may this sitemap list this URL?"),
    // page metadata (MetaOps)
    SqlFunction("extract_title", Seq(html), StringType, MetaOps.getClass,
      "titleCodegen", "titleCodegenBinary", summary =
        "The first <title>'s text, entity-decoded and whitespace-collapsed; NULL when absent."),
    SqlFunction("extract_meta", Seq(html),
      stringStruct(true, "title", "description", "keywords", "lang", "og_title",
        "og_description", "og_url", "og_image", "og_type", "twitter_card"),
      MetaOps.getClass, "metaCodegen", "metaCodegenBinary", summary =
        "STRUCT of title, description, keywords, lang, Open Graph and Twitter Card " +
        "fields, each NULL when absent."),
    SqlFunction("extract_jsonld", Seq(html), strArray, MetaOps.getClass,
      "jsonLdCodegen", "jsonLdCodegenBinary", summary =
        "The trimmed payload of every <script type=\"application/ld+json\">, in " +
        "document order."),
    // feed tier (FeedOps): RSS 2.0, RDF and Atom
    SqlFunction("feed_kind", Seq(body), StringType, FeedOps.getClass,
      "kindCodegenStr", "kindCodegen", summary =
        "'rss', 'rdf' or 'atom'; NULL when the body is not a feed."),
    SqlFunction("feed_title", Seq(body), StringType, FeedOps.getClass,
      "titleCodegenStr", "titleCodegen", summary =
        "The feed-level title; NULL when absent or not a feed."),
    SqlFunction("feed_entries", Seq(body),
      ArrayType(stringStruct(true, "title", "link", "published", "id"), containsNull = false),
      FeedOps.getClass, "entriesCodegenStr", "entriesCodegen", summary =
        "ARRAY<STRUCT<title, link, published, id>> in file order; NULL when not a feed."))

  /** The function builder: a wrong argument count is a named error, never
    * an IndexOutOfBounds from a later `children(i)`. */
  private def build(fn: SqlFunction)(children: Seq[Expression]): Expression = {
    val n = fn.args.size
    val min = if (fn.optionalLast) n - 1 else n
    if (children.size < min || children.size > n)
      throw new IllegalArgumentException(s"${fn.name} expects " +
        s"${if (min == n) s"$n" else s"$min or $n"} arguments: ${fn.signature}, got ${children.size}")
    GraftFunction(fn,
      if (children.size == n) children else children :+ Literal(null, fn.args.last.types.head))
  }
}
