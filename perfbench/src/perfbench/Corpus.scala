package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** SplitMix64: small, fast, and identical on every JVM, so a seed names
  * exactly one corpus. */
final class Rng(seed: Long) {
  private var s = seed * 0x2545f4914f6cdd1dL + 0x9e3779b97f4a7c15L
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  def chance(p: Double): Boolean = nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  def shuffle[T](xs: Array[T]): Unit = {
    var i = xs.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
  }
}

/** One generated page: what the program receives (url, ts, html). */
final case class Page(url: String, host: Int, tsMs: Long, html: Array[Byte])

/** Planted truth for the `select_multi` query, one per page. */
final case class SelTruth(
    sel: String,
    title: String,
    oddItems: Long,
    deals: Long,
    nofollow: Seq[String],
    links: Seq[String],
    dyn: String)

/** A generated corpus and everything the checks compare against. Exactly
  * one of the truth arrays is filled, matching the workload. */
final class Corpus(
    val workload: String,
    val seed: Long,
    val pages: Array[Page],
    val mainText: Array[String],
    val selTruth: Array[SelTruth],
    val rendered: Array[String],
    val outlinks: Array[Array[String]],
    val component: Map[String, String]) {

  def docs: Int = pages.length
  def htmlBytes: Long = pages.iterator.map(_.html.length.toLong).sum

  /** SHA-256 over every input byte and every planted answer, in order. */
  lazy val digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    pages.indices.foreach { i =>
      val p = pages(i)
      put(p.url); put(p.tsMs.toString); md.update(p.html); md.update(0.toByte)
      if (mainText != null) put(mainText(i))
      if (selTruth != null) put(selTruth(i).toString)
      if (rendered != null) put(rendered(i))
      if (outlinks != null) outlinks(i).foreach(put)
    }
    component.toSeq.sorted.foreach { case (k, v) => put(k); put(v) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** the corpus record printed with every run. */
  def describe: Map[String, Any] = {
    val sizes = pages.map(_.html.length.toDouble).sorted
    val hostCounts = pages.groupBy(_.host).values.map(_.length)
    Map(
      "workload" -> workload, "seed" -> seed, "digest" -> digest,
      "docs" -> docs, "html_mb" -> htmlBytes / 1e6,
      "page_bytes_p50" -> Stats.quantile(sizes, 0.5),
      "page_bytes_p90" -> Stats.quantile(sizes, 0.9),
      "page_bytes_p99" -> Stats.quantile(sizes, 0.99),
      "page_bytes_max" -> sizes.last,
      "hosts" -> hostCounts.size,
      "top_host_share" -> hostCounts.max.toDouble / docs) ++
      (if (outlinks == null) Map.empty else {
        val edges = outlinks.iterator.map(_.length.toLong).sum
        Map("edges" -> edges, "graph_path" ->
          (if (edges <= graft.spark.CrawlGraphOps.PageRankDriverEdgeBudget) "driver" else "distributed"))
      })
  }
}

/** Seeded crawl-like corpora, one shape per workload, with the answers
  * the checks need planted while the HTML is written. Pages carry no
  * whitespace-only text between tags, so every text node is one the
  * generator wrote and knows. */
object Corpus {

  val EpochMs = 1735689600000L // 2025-01-01T00:00:00Z

  /** plain words (none contains "deal", the `:contains` probe) and
    * multibyte ones (2-, 3- and 4-byte UTF-8). */
  private val Words: IndexedSeq[String] = (
    "the of and to in for on with as by at from that this data page crawl " +
      "text river stone market garden engine signal winter harbor lantern " +
      "orbit meadow copper violet ladder canyon signal parcel thunder quiet " +
      "naïve café Grüße façade jalapeño 日本語 中文 русский Ελληνικά 😀 🚀 ñandú"
  ).split(' ').toIndexedSeq

  /** (source spelling, decoded text) entity pairs. */
  private val Ents: IndexedSeq[(String, String)] = IndexedSeq(
    "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&eacute;" -> "é", "&copy;" -> "©", "&mdash;" -> "—", "&nbsp;" -> "\u00A0",
    "&#233;" -> "é", "&#x4E2D;" -> "中", "&#128512;" -> "😀")

  /** Zipf(1.1) host draw over `n` hosts: host 0 is the most popular. */
  private final class Hosts(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: Rng): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** page byte targets: a stratified lognormal draw (stratum i of n takes
    * a quantile inside [i/n, (i+1)/n)), shuffled — every seed sees the same
    * skewed shape and nearly the same total, with the tail capped. */
  private def sizes(r: Rng, n: Int, median: Double, sigma: Double, cap: Int): Array[Int] = {
    val out = Array.tabulate(n) { i =>
      val u = (i + r.nextDouble()) / n
      math.min(cap.toDouble, median * math.exp(sigma * Stats.probit(u))).toInt.max(600)
    }
    r.shuffle(out)
    out
  }

  /** words with entities and multibyte text mixed in; appends the source
    * spelling to `h` and the decoded text to `t`. */
  private def words(r: Rng, k: Int, h: java.lang.StringBuilder, t: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < k) {
      if (i > 0) { h.append(' '); t.append(' ') }
      if (r.chance(0.06)) { val (s, d) = r.pick(Ents); h.append(s); t.append(d) }
      else { val w = r.pick(Words); h.append(w); t.append(w) }
      i += 1
    }
  }

  private def plainWords(r: Rng, k: Int): String =
    (0 until k).map(_ => r.pick(Words)).mkString(" ")

  def generate(workload: String, seed: Long): Corpus = workload match {
    case "extract_job" => extractJob(seed)
    case "select_multi" => selectMulti(seed)
    case "mutate_render" => mutateRender(seed)
    case "crawl_graph" => crawlGraph(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def url(host: Int, i: Int): String = s"https://h$host.example/doc/$i"

  // ---------------------------------------------------------------- extract_job

  /** Boilerplate-heavy pages for the default extraction recipe. Four
    * templates pick the main element four ways (`main`, `[role=main]`,
    * `#content`, body fallback). Everything outside the main element is
    * either strippable (nav/aside/header/footer/script/style/[hidden]) or,
    * for the first three templates, plain text the extraction must skip. */
  private def extractJob(seed: Long): Corpus = {
    val n = 1600
    val r = new Rng(seed)
    val hosts = new Hosts(400)
    val target = sizes(r, n, median = 7000, sigma = 1.2, cap = 400000)
    val pages = new Array[Page](n)
    val truth = new Array[String](n)
    var i = 0
    while (i < n) {
      val host = hosts.draw(r)
      val h = new java.lang.StringBuilder(target(i) + 2048)
      val t = new java.lang.StringBuilder(target(i) / 2)
      val junk = new java.lang.StringBuilder() // decoded text nobody keeps
      val template = r.nextInt(4)
      h.append("<!doctype html><html lang=\"en\"><head><title>")
      words(r, 5, h, junk)
      h.append("</title><style>.ad{color:red}.nav li{float:left}</style>")
      h.append("<script>var cfg={page:").append(i).append(",host:").append(host).append("};</script></head><body>")
      val boiler = target(i) * 0.55
      // header + nav: link lists, the bulk of a crawl page's markup
      h.append("<header><div class=\"logo\">")
      words(r, 3, h, junk)
      h.append("</div></header><nav class=\"top\"><ul>")
      while (h.length < boiler * 0.6) {
        h.append("<li class=\"nav-item\"><a href=\"/c/").append(r.nextInt(500)).append("\">")
        words(r, 2, h, junk)
        h.append("</a></li>")
      }
      h.append("</ul></nav>")
      if (template != 3) {
        // non-strippable text outside the main element: must not leak in
        h.append("<div class=\"crumbs\">")
        words(r, 4, h, junk)
        h.append("</div>")
      }
      h.append("<div class=\"ad\" data-slot=\"").append(i).append("\"><script>track(")
        .append(i).append(");</script></div>")
      template match {
        case 0 => h.append("<main>")
        case 1 => h.append("<div role=\"main\">")
        case 2 => h.append("<div id=\"content\">")
        case _ => ()
      }
      val bodyEnd = target(i) - 220
      var para = 0
      while (h.length < bodyEnd || para == 0) {
        h.append("<p>")
        var seg = 0
        val segs = 1 + r.nextInt(4)
        while (seg < segs) {
          if (seg > 0) { h.append(' '); t.append(' ') }
          r.nextInt(6) match {
            case 0 => h.append("<b>"); words(r, 3, h, t); h.append("</b>")
            case 1 => h.append("<a href=\"/d/").append(r.nextInt(9999)).append("\">"); words(r, 2, h, t); h.append("</a>")
            case 2 => h.append("<span class=\"k\">"); words(r, 4, h, t); h.append("</span>")
            case _ => words(r, 6 + r.nextInt(20), h, t)
          }
          seg += 1
        }
        h.append("</p>")
        para += 1
        // strippable islands inside the content: their text must vanish
        r.nextInt(12) match {
          case 0 => h.append("<aside class=\"pull\">"); words(r, 6, h, junk); h.append("</aside>")
          case 1 => h.append("<script>render(").append(para).append(");</script>")
          case 2 => h.append("<div hidden>"); words(r, 5, h, junk); h.append("</div>")
          case _ => ()
        }
      }
      template match {
        case 0 => h.append("</main>")
        case 1 | 2 => h.append("</div>")
        case _ => ()
      }
      h.append("<aside>")
      words(r, 8, h, junk)
      h.append("</aside><footer><p>")
      words(r, 6, h, junk)
      h.append("</p></footer></body></html>")
      pages(i) = Page(url(host, i), host, EpochMs + i * 1000L + r.nextInt(1000), h.toString.getBytes(UTF_8))
      truth(i) = t.toString
      i += 1
    }
    new Corpus("extract_job", seed, pages, truth, null, null, null, Map.empty)
  }

  // --------------------------------------------------------------- select_multi

  /** the query's fixed selectors; `$Dyn` is the shared per-row selector. */
  val SelTitle = "article > h1.title"
  val SelOdd = "h1.title + ul.items > li:nth-child(2n+1)"
  val SelDeals = "div.card:not(.sponsored) p:contains(deal)"
  val SelNofollow = "a[rel~=nofollow][href^=\"https://\"]"
  val SelDyn = "section.s:nth-of-type(2) span.v"
  def selRow(i: Int): String = s"#r$i > section.s:last-of-type > span.v"

  private def selectMulti(seed: Long): Corpus = {
    val n = 4000
    val r = new Rng(seed)
    val hosts = new Hosts(300)
    val target = sizes(r, n, median = 5000, sigma = 0.9, cap = 200000)
    val pages = new Array[Page](n)
    val truth = new Array[SelTruth](n)
    var i = 0
    while (i < n) {
      val host = hosts.draw(r)
      val pageUrl = url(host, i)
      val h = new java.lang.StringBuilder(target(i) + 2048)
      val junk = new java.lang.StringBuilder()
      val nofollow = ArrayBuffer.empty[String]
      val links = ArrayBuffer.empty[String]
      def anchor(): Unit = {
        val (href, abs) = r.nextInt(5) match {
          case 0 => val u = s"https://h${r.nextInt(300)}.example/p/${r.nextInt(9999)}"; (u, u)
          case 1 => val p = s"/doc/${r.nextInt(9999)}"; (p, s"https://h$host.example$p")
          case 2 => val p = s"/doc/${r.nextInt(9999)}"; (p + "#top", s"https://h$host.example$p")
          case 3 => val u = s"http://h${r.nextInt(300)}.example/q?id=${r.nextInt(99)}"; (u, u)
          case _ => val u = s"https://h${r.nextInt(300)}.example/"; (u, u)
        }
        val rel = r.nextInt(4) match {
          case 0 => " rel=\"nofollow\""
          case 1 => " rel=\"ugc nofollow\""
          case 2 => " rel=\"ugc\""
          case _ => ""
        }
        if (rel.contains("nofollow") && href.startsWith("https://")) nofollow += href
        links += abs
        h.append("<a href=\"").append(href).append('"').append(rel).append('>')
        h.append(plainWords(r, 2)).append("</a>")
      }
      h.append("<!doctype html><html><head><title>")
      words(r, 4, h, junk)
      h.append("</title></head><body><header><nav>")
      var k = 0
      while (k < 4 + r.nextInt(6)) { anchor(); k += 1 }
      h.append("</nav></header><article id=\"r").append(i).append("\"><h1 class=\"title\">")
      val title = new java.lang.StringBuilder()
      words(r, 3 + r.nextInt(5), h, title)
      h.append("</h1><ul class=\"items\">")
      val items = 1 + r.nextInt(12)
      k = 0
      while (k < items) { h.append("<li>").append(plainWords(r, 2)).append("</li>"); k += 1 }
      h.append("</ul>")
      val sections = ArrayBuffer.empty[String]
      var deals = 0L
      val bodyEnd = target(i) - 300
      while (h.length < bodyEnd || sections.size < 2) {
        r.nextInt(3) match {
          case 0 =>
            val sponsored = r.chance(0.3)
            val deal = r.chance(0.5)
            h.append(if (sponsored) "<div class=\"card sponsored\"><p>" else "<div class=\"card\"><p>")
            h.append(plainWords(r, 3))
            if (deal) h.append(" deal ").append(plainWords(r, 2))
            h.append("</p></div>")
            if (deal && !sponsored) deals += 1
          case 1 =>
            val v = s"v${sections.size}-${r.pick(Words)}"
            sections += v
            h.append("<section class=\"s\"><h2>").append(plainWords(r, 2)).append("</h2><span class=\"v\">")
              .append(v).append("</span></section>")
          case _ =>
            h.append("<p>")
            words(r, 8 + r.nextInt(20), h, junk)
            h.append(' ')
            anchor()
            h.append("</p>")
        }
      }
      h.append("</article><footer>")
      anchor()
      h.append("</footer></body></html>")
      val perRow = r.chance(0.15)
      val sel = if (perRow) selRow(i) else SelDyn
      val dyn = if (perRow) sections.last else sections(1)
      pages(i) = Page(pageUrl, host, EpochMs + i * 1000L, h.toString.getBytes(UTF_8))
      truth(i) = SelTruth(sel, title.toString, (items + 1) / 2, deals,
        nofollow.toSeq, links.toSeq, dyn)
      i += 1
    }
    new Corpus("select_multi", seed, pages, null, truth, null, null, Map.empty)
  }

  // -------------------------------------------------------------- mutate_render

  /** what the mutation pass writes into each page's title. */
  def revisedTitle(pageUrl: String): String =
    s"Revised <${pageUrl.substring(pageUrl.lastIndexOf('/') + 1)}> & \"more\""

  val AddedItem = "<li class=\"added\">more</li>"
  val Notice = "<p class=\"notice\">notice</p>"

  /** Pages for the mutation pass plus, per page, the `body` outerHtml the
    * pass must render: ads and scripts gone, title re-set, `rel` added to
    * external links, `data-state` rewritten in place, an item appended
    * and the banner replaced. Both strings are written side by side. */
  private def mutateRender(seed: Long): Corpus = {
    val n = 3000
    val r = new Rng(seed)
    val hosts = new Hosts(300)
    val target = sizes(r, n, median = 5000, sigma = 0.9, cap = 200000)
    val pages = new Array[Page](n)
    val expected = new Array[String](n)
    val junk = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      val host = hosts.draw(r)
      val pageUrl = url(host, i)
      val h = new java.lang.StringBuilder(target(i) + 2048)
      val e = new java.lang.StringBuilder(target(i) + 2048)
      def both(s: String): Unit = { h.append(s); e.append(s) }
      def text(k: Int): Unit = { val s0 = h.length; words(r, k, h, junk); e.append(h, s0, h.length) }
      h.append("<!doctype html><html><head><title>t</title><script>var a=1;</script></head>")
      both("<body>")
      h.append("<div class=\"banner\">").append(plainWords(r, 3)).append("</div>")
      e.append(Notice)
      both("<h1 class=\"title\">")
      words(r, 4, h, junk)
      e.append(graft.dom.Entities.encodeSpecial(revisedTitle(pageUrl)))
      both("</h1><ul class=\"items\">")
      val items = 1 + r.nextInt(6)
      var k = 0
      while (k < items) { both("<li>"); text(2); both("</li>"); k += 1 }
      e.append(AddedItem)
      both("</ul>")
      val bodyEnd = target(i) - 200
      while (h.length < bodyEnd) {
        r.nextInt(5) match {
          case 0 =>
            h.append("<div class=\"ad\"><script>track(").append(i).append(");</script>")
            h.append(plainWords(r, 2)).append("</div>")
          case 1 =>
            h.append("<script>var x=").append(r.nextInt(999)).append(";</script>")
          case 2 =>
            val href = s"https://h${r.nextInt(300)}.example/x/${r.nextInt(999)}"
            both("<p>"); text(6)
            both(s""" <a class="ext" href="$href"""")
            h.append('>'); e.append(" rel=\"nofollow noopener\">")
            both(plainWords(r, 2) + "</a></p>")
          case 3 =>
            h.append("<section class=\"s\" data-state=\"new\">")
            e.append("<section class=\"s\" data-state=\"seen\">")
            both("<h2>"); text(3); both("</h2><p>"); text(12); both("</p></section>")
          case _ =>
            both("<p>"); text(10 + r.nextInt(30)); both("</p>")
        }
      }
      both("<footer><p>"); text(4); both("</p></footer></body>")
      h.append("</html>")
      pages(i) = Page(pageUrl, host, EpochMs + i * 1000L, h.toString.getBytes(UTF_8))
      expected(i) = e.toString
      junk.setLength(0)
      i += 1
    }
    new Corpus("mutate_render", seed, pages, null, null, expected, null, Map.empty)
  }

  // ---------------------------------------------------------------- crawl_graph

  /** A link graph of power-law-sized sites. Every page of site `c` links
    * to the site's hub `https://cC.example/a` (the least URL of the site),
    * to other pages of the site, and now and then to an uncrawled
    * `/ext/` URL of the same site (a dangling node). No link crosses
    * sites, so each site is one connected component labelled by its hub;
    * every node is within two hops of it. */
  private def crawlGraph(seed: Long): Corpus = {
    val sites = 120
    val n = 2900
    val r = new Rng(seed)
    val siteOf = new Hosts(sites)
    val bySite = Array.fill(sites)(ArrayBuffer.empty[Int])
    val site = Array.tabulate(n)(i => if (i < sites) i else siteOf.draw(r))
    site.indices.foreach(i => bySite(site(i)) += i)
    def pageUrl(i: Int): String =
      if (i < sites) s"https://c$i.example/a" else s"https://c${site(i)}.example/p/$i"
    val pages = new Array[Page](n)
    val outlinks = new Array[Array[String]](n)
    val comp = scala.collection.mutable.HashMap.empty[String, String]
    var i = 0
    while (i < n) {
      val c = site(i)
      val me = pageUrl(i)
      val hub = pageUrl(c)
      val members = bySite(c)
      val links = scala.collection.mutable.LinkedHashSet.empty[String]
      if (i != c) links += hub
      val want = math.min(members.size - 1, 16 + r.nextInt(8))
      var guard = 0
      while (links.size < want && guard < 200) {
        val j = members(r.nextInt(members.size))
        if (j != i) links += pageUrl(j)
        guard += 1
      }
      if (r.chance(0.2)) links += s"https://c$c.example/ext/${r.nextInt(50)}"
      val h = new java.lang.StringBuilder(2048)
      h.append("<!doctype html><html><head><title>")
      words(r, 3, h, new java.lang.StringBuilder())
      h.append("</title></head><body><h1>").append(plainWords(r, 3)).append("</h1><ul>")
      links.foreach { l =>
        // same-site links are written relative half the time
        val href = if (r.chance(0.5)) l.substring(l.indexOf('/', 8)) else l
        h.append("<li><a href=\"").append(href).append("\">").append(plainWords(r, 2)).append("</a></li>")
      }
      h.append("</ul><p>").append(plainWords(r, 12)).append("</p></body></html>")
      pages(i) = Page(me, c, EpochMs + i * 1000L, h.toString.getBytes(UTF_8))
      outlinks(i) = links.toArray
      // only nodes that take part in an edge appear in the output
      if (links.nonEmpty) { comp(me) = hub; links.foreach(l => comp(l) = hub) }
      i += 1
    }
    new Corpus("crawl_graph", seed, pages, null, null, null, outlinks, comp.toMap)
  }
}
