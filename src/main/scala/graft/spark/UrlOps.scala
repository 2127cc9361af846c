package graft.spark

/** URL handling for the crawl tier: RFC 3986 reference resolution
  * (§5.2 — the algorithm browsers and crawlers share), syntax-based
  * normalization (§6.2.2-3), and host extraction. Pure functions over
  * strings — no java.net.URL (which does network-class lookups and
  * rejects many crawl-real URLs) and no exceptions on malformed input:
  * every entry returns null rather than throwing, because at crawl scale
  * some fraction of hrefs is always garbage.
  *
  * Scope notes:
  *  - `resolve` implements §5.2.2 strict mode (a same-scheme reference
  *    with its own authority/path replaces, it does not merge), §5.2.3
  *    path merge, and §5.2.4 remove_dot_segments — validated against the
  *    RFC's own §5.4 normal + abnormal example tables in UrlSpec.
  *  - `normalize` applies §6.2.2 syntax normalization (lowercase scheme
  *    and host, uppercase percent-encoding hex, decode unreserved
  *    octets, remove dot segments) plus §6.2.3 scheme defaults (drop
  *    :80 for http / :443 for https, empty path -> "/"). The fragment is
  *    dropped — crawl identity never includes it.
  *  - `host` returns the raw (bracketless for IPv6) lowercase host. */
object UrlOps {

  /** (scheme, authority, path, query, fragment) — each null when absent,
    * per RFC 3986 §3's component grammar. Never throws. */
  private[graft] def split(uri: String): (String, String, String, String, String) = {
    var rest = uri
    var fragment: String = null
    val h = rest.indexOf('#')
    if (h >= 0) { fragment = rest.substring(h + 1); rest = rest.substring(0, h) }
    var query: String = null
    val q = rest.indexOf('?')
    if (q >= 0) { query = rest.substring(q + 1); rest = rest.substring(0, q) }
    var scheme: String = null
    // scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) followed by ':'
    val c = rest.indexOf(':')
    if (c > 0) {
      var ok = isAlpha(rest.charAt(0))
      var i = 1
      while (ok && i < c) {
        val ch = rest.charAt(i)
        ok = isAlpha(ch) || (ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.'
        i += 1
      }
      if (ok) { scheme = rest.substring(0, c); rest = rest.substring(c + 1) }
    }
    var authority: String = null
    if (rest.startsWith("//")) {
      var end = 2
      while (end < rest.length && rest.charAt(end) != '/' &&
        rest.charAt(end) != '?' && rest.charAt(end) != '#') end += 1
      authority = rest.substring(2, end)
      rest = rest.substring(end)
    }
    (scheme, authority, rest, query, fragment)
  }

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** WHATWG URL pre-parse: ASCII tab and newline are stripped ANYWHERE
    * (real HTML wraps long hrefs across source lines), leading/trailing
    * C0 controls and space trimmed. */
  private[graft] def preClean(s: String): String = {
    var hasJunk = false
    var i = 0
    while (i < s.length && !hasJunk) {
      val c = s.charAt(i)
      if (c == '\t' || c == '\n' || c == '\r') hasJunk = true
      i += 1
    }
    val t = if (!hasJunk) s else {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (c != '\t' && c != '\n' && c != '\r') sb.append(c)
        j += 1
      }
      sb.toString
    }
    t.trim
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[graft] def removeDotSegments(path: String): String = {
    if (path == null || path.isEmpty) return path
    val out = new java.lang.StringBuilder(path.length)
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { popSegment(out); in = "/" + in.substring(4) }
      else if (in == "/..") { popSegment(out); in = "/" }
      else if (in == "." || in == "..") in = ""
      else {
        // move the first segment (through the char before the next '/')
        var end = if (in.charAt(0) == '/') 1 else 0
        while (end < in.length && in.charAt(end) != '/') end += 1
        out.append(in, 0, end)
        in = in.substring(end)
      }
    }
    out.toString
  }

  private def popSegment(out: java.lang.StringBuilder): Unit = {
    var i = out.length - 1
    while (i >= 0 && out.charAt(i) != '/') i -= 1
    out.setLength(math.max(i, 0))
  }

  /** RFC 3986 §5.3 recomposition. A path beginning "//" with no
    * authority would re-parse as an authority — the WHATWG serializer's
    * "/." guard keeps the round-trip meaning-preserving. */
  private def recompose(scheme: String, authority: String, path: String,
      query: String, fragment: String): String = {
    val sb = new java.lang.StringBuilder(64)
    if (scheme != null) { sb.append(scheme).append(':') }
    if (authority != null) { sb.append("//").append(authority) }
    else if (path != null && path.startsWith("//")) sb.append("/.")
    sb.append(if (path == null) "" else path)
    if (query != null) { sb.append('?').append(query) }
    if (fragment != null) { sb.append('#').append(fragment) }
    sb.toString
  }

  /** RFC 3986 §5.2.2 transform-references (strict): resolve `ref`
    * against absolute `base`. A ref carrying its own scheme is
    * self-sufficient and resolves even when the base is null/relative/
    * garbage (§5.2.2 never consults the base for it); all other refs
    * yield null without an absolute base. Protocol-relative
    * ("//host/x"), root-relative, path-relative, query-only, and
    * fragment-only references all land in the right branch. */
  def resolve(base: String, ref: String): String = {
    if (ref == null) return null
    resolveParsed(if (base == null) null else split(preClean(base)), ref)
  }

  /** resolve against an already-split base — the per-page fast path for
    * extract_links (one base parse per page, not per href). A ref with
    * its own scheme never consults the base (§5.2.2), so it resolves
    * even when the base is null/relative/garbage. */
  private[graft] def resolveParsed(
      b: (String, String, String, String, String), ref: String): String = {
    if (ref == null) return null
    val r = split(preClean(ref))
    var scheme: String = null; var authority: String = null
    var path: String = null; var query: String = null
    if (r._1 != null) {
      scheme = r._1; authority = r._2
      path = removeDotSegments(r._3); query = r._4
    } else {
      if (b == null || b._1 == null) return null // base must be absolute
      if (r._2 != null) {
        authority = r._2; path = removeDotSegments(r._3); query = r._4
      } else {
        if (r._3 == null || r._3.isEmpty) {
          path = b._3
          query = if (r._4 != null) r._4 else b._4
        } else {
          path =
            if (r._3.startsWith("/")) removeDotSegments(r._3)
            else removeDotSegments(mergePaths(b._2, b._3, r._3))
          query = r._4
        }
        authority = b._2
      }
      scheme = b._1
    }
    recompose(scheme, authority, path, query, r._5)
  }

  /** RFC 3986 §5.2.3 merge. */
  private def mergePaths(baseAuthority: String, basePath: String, refPath: String): String = {
    if (baseAuthority != null && (basePath == null || basePath.isEmpty)) "/" + refPath
    else {
      val slash = basePath.lastIndexOf('/')
      if (slash < 0) refPath else basePath.substring(0, slash + 1) + refPath
    }
  }

  // ---------------------------------------------------------- normalization

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def isUnreserved(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** §6.2.2.1-2: uppercase percent hex; decode %XX for unreserved
    * octets. Malformed escapes pass through untouched (crawl tolerance). */
  private[graft] def normalizeEscapes(s: String): String = {
    if (s == null || s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else sb.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def asciiLower(s: String): String = {
    val a = s.toCharArray
    var i = 0
    while (i < a.length) {
      if (a(i) >= 'A' && a(i) <= 'Z') a(i) = (a(i) + 32).toChar
      i += 1
    }
    new String(a)
  }

  private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** host canonicalization, one pass: unreserved %XX octets decode and
    * case-fold (so "ex%41mple.com" and "example.com" share one crawl
    * identity), reserved escapes keep uppercase hex, everything else
    * ASCII-lowercases. Decode-before-fold ordering matters — folding
    * first would leave decoded uppercase letters behind. */
  private[graft] def canonHost(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(lower(v.toChar))
        else sb.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { sb.append(lower(c)); i += 1 }
    }
    sb.toString
  }

  /** crawl-identity normalization: §6.2.2 syntax normalization + §6.2.3
    * scheme defaults, fragment dropped. Null for null/unparseable (no
    * scheme) input — a crawl URL table wants absolute, canonical keys. */
  def normalize(url: String): String = {
    if (url == null) return null
    val (scheme0, auth0, path0, query0, _) = split(preClean(url))
    if (scheme0 == null) return null
    val scheme = asciiLower(scheme0)
    var authority = auth0
    if (authority != null) {
      // userinfo@host:port — host is case-insensitive; default ports drop
      val at = authority.lastIndexOf('@')
      val userinfo = if (at >= 0) authority.substring(0, at + 1) else ""
      var hostPort = if (at >= 0) authority.substring(at + 1) else authority
      // bracketed IPv6 literals carry no case and ':' inside brackets is
      // not a port separator
      val colon =
        if (hostPort.startsWith("[")) {
          val close = hostPort.indexOf(']')
          if (close >= 0) hostPort.indexOf(':', close) else -1
        } else hostPort.lastIndexOf(':')
      var port = ""
      if (colon >= 0) { port = hostPort.substring(colon); hostPort = hostPort.substring(0, colon) }
      if ((scheme == "http" && port == ":80") || (scheme == "https" && port == ":443") ||
        port == ":") port = ""
      authority = userinfo + canonHost(hostPort) + port
    }
    var path = removeDotSegments(normalizeEscapes(path0))
    if (authority != null && (path == null || path.isEmpty)) path = "/"
    recompose(scheme, authority, path, normalizeEscapes(query0), null)
  }

  /** lowercase host of an absolute URL (IPv6 brackets stripped), null
    * when absent/unparseable. */
  def host(url: String): String = {
    if (url == null) return null
    val (_, auth, _, _, _) = split(preClean(url))
    if (auth == null || auth.isEmpty) return null
    val at = auth.lastIndexOf('@')
    var hp = if (at >= 0) auth.substring(at + 1) else auth
    if (hp.startsWith("[")) {
      val close = hp.indexOf(']')
      if (close > 0) hp = hp.substring(1, close)
    } else {
      val colon = hp.lastIndexOf(':')
      if (colon >= 0) hp = hp.substring(0, colon)
    }
    if (hp.isEmpty) null else canonHost(hp)
  }

  /** registrable-domain approximation for grouping/skew keys: the last
    * two labels, or last three when the 2nd-level label is a well-known
    * generic SLD under a ccTLD (co.uk, com.au, ...). NOT the full public
    * suffix list (which is a moving dataset, not an algorithm) — this is
    * the standard embedded approximation; exact PSL handling can swap in
    * behind the same function. IP literals return as-is. */
  // hoisted: url_domain runs once per row at crawl scale
  private val GenericSlds: java.util.HashSet[String] = {
    val m = new java.util.HashSet[String]()
    Seq("co", "com", "net", "org", "gov", "edu", "ac", "mil").foreach(m.add)
    m
  }

  def registrableDomain(url: String): String = {
    val h = host(url)
    if (h == null) return null
    if (h.indexOf(':') >= 0) return h // IPv6
    val labels = h.split('.')
    if (labels.length <= 2) return h
    if (labels.forall(l => l.nonEmpty && l.forall(c => c >= '0' && c <= '9'))) return h // IPv4
    val tld = labels(labels.length - 1)
    val sld = labels(labels.length - 2)
    val n = if (tld.length == 2 && GenericSlds.contains(sld) && labels.length >= 3) 3 else 2
    labels.takeRight(n).mkString(".")
  }

  /** path + query of an absolute URL in the form robots matching targets
    * (RFC 9309 §2.2.2 matches the path-with-query): `"/"` for an empty
    * path, `"?query"` appended when present, fragment dropped, NULL when
    * the URL has no authority (relative refs have no robots scope). */
  def path(url: String): String = {
    if (url == null) return null
    val (_, auth, p, query, _) = split(preClean(url))
    if (auth == null || auth.isEmpty) return null
    val base = if (p.isEmpty) "/" else p
    if (query == null) base else base + "?" + query
  }

  /** SURT (Sort-friendly URI Reordering Transform) — the web-archive /
    * Common-Crawl-index canonical URL key (the public format of
    * webarchive-commons' SURT + Wayback's aggressive canonicalizer, as
    * seen in CDX files): scheme and userinfo dropped, host labels
    * reversed and comma-joined, `)` separator, then path+query. Under
    * one key prefix, all URLs of a host — and of a domain — sort
    * adjacently, which is what makes it the right dedup-cluster /
    * range-partition key at crawl scale (a plain URL string scatters a
    * host's pages across the keyspace by subdomain).
    *
    * Steps, applied on top of [[normalize]] (RFC 3986 canonical form):
    *  1. drop scheme + userinfo + fragment;
    *  2. strip one leading `www.` / `www<digits>.` host label (the
    *     aggressive-canonicalizer rule: `www.example.com` and
    *     `example.com` are the same crawl identity);
    *  3. reverse host labels, join with `,` — IPv4/IPv6 literals are NOT
    *     reversed (they are not hierarchical right-to-left);
    *  4. keep a non-default port as `:port` before the `)`;
    *  5. lowercase the path (aggressive rule — most origin servers with
    *     mixed-case paths serve them case-insensitively, and the key
    *     must pick one side);
    *  6. sort query parameters bytewise (`&`-split, whole `k=v` strings)
    *     so parameter order never splits a dedup cluster; an empty query
    *     drops its `?`.
    *
    * `https://User@WWW.Example.COM:443/A/b?b=2&a=1#f` →
    * `com,example)/a/b?a=1&b=2`. Null for null/unparseable/relative. */
  def surt(url: String): String = {
    val n = normalize(url)
    if (n == null) return null
    val (_, auth0, path0, query0, _) = split(n)
    if (auth0 == null || auth0.isEmpty) return null
    // userinfo off
    val at = auth0.lastIndexOf('@')
    var hostPort = if (at >= 0) auth0.substring(at + 1) else auth0
    // port off (normalize already dropped default ports)
    var port = ""
    if (hostPort.startsWith("[")) {
      val close = hostPort.indexOf(']')
      val colon = if (close >= 0) hostPort.indexOf(':', close) else -1
      if (colon >= 0) { port = hostPort.substring(colon); hostPort = hostPort.substring(0, colon) }
    } else {
      val colon = hostPort.lastIndexOf(':')
      if (colon >= 0) { port = hostPort.substring(colon); hostPort = hostPort.substring(0, colon) }
    }
    if (hostPort.isEmpty) return null
    val hostKey =
      if (hostPort.startsWith("[")) hostPort // IPv6 literal, not reversed
      else {
        val labels = hostPort.split('.')
        val isIpv4 = labels.length == 4 &&
          labels.forall(l => l.nonEmpty && l.length <= 3 && l.forall(c => c >= '0' && c <= '9'))
        if (isIpv4) hostPort
        else {
          // strip one leading www / www<digits> label (never the whole host)
          val from =
            if (labels.length > 2 && labels(0).length >= 3 && labels(0).startsWith("www") &&
              labels(0).drop(3).forall(c => c >= '0' && c <= '9')) 1
            else 0
          val sb = new java.lang.StringBuilder(hostPort.length)
          var i = labels.length - 1
          while (i >= from) {
            sb.append(labels(i))
            if (i > from) sb.append(',')
            i -= 1
          }
          sb.toString
        }
      }
    val path = asciiLower(if (path0 == null || path0.isEmpty) "/" else path0)
    val query =
      if (query0 == null || query0.isEmpty) null
      else {
        val parts = query0.split("&", -1)
        java.util.Arrays.sort(parts, new java.util.Comparator[String] {
          override def compare(a: String, b: String): Int = a.compareTo(b)
        })
        parts.mkString("&")
      }
    hostKey + port + ")" + path + (if (query == null) "" else "?" + query)
  }

  // ------------------------------------------------- codegen static entries
  // called from generated code (GraftSparkExtensions); null in -> null out, never throws.

  import org.apache.spark.unsafe.types.UTF8String

  private def wrap(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  def resolveCodegen(base: UTF8String, ref: UTF8String): UTF8String =
    if (base == null || ref == null) null
    else wrap(resolve(base.toString, ref.toString))

  def normalizeCodegen(url: UTF8String): UTF8String =
    if (url == null) null else wrap(normalize(url.toString))

  def hostCodegen(url: UTF8String): UTF8String =
    if (url == null) null else wrap(host(url.toString))

  def domainCodegen(url: UTF8String): UTF8String =
    if (url == null) null else wrap(registrableDomain(url.toString))

  def pathCodegen(url: UTF8String): UTF8String =
    if (url == null) null else wrap(path(url.toString))

  def surtCodegen(url: UTF8String): UTF8String =
    if (url == null) null else wrap(surt(url.toString))
}
