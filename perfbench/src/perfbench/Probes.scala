package perfbench

import graft.dom.Utf8Builder
import graft.query.{Engine, Vis}
import graft.selector.Selector
import graft.spark.Extractor
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** Per-layer numbers from timing calls into each layer's public entry
  * points, one page at a time on the driver thread, over the workload's
  * own corpus. Each call sits in a span whose trace id is the page. */
object Probes {

  /** the selectors each workload's engine work runs. */
  def selectors(workload: String): Seq[String] = workload match {
    case "extract_job" =>
      Extractor.Recipe.DefaultRemove +: Extractor.Recipe.DefaultMain
    case "select_multi" =>
      Seq(Corpus.SelTitle, Corpus.SelOdd, Corpus.SelDeals, Corpus.SelNofollow, Corpus.SelDyn,
        Corpus.selRow(0))
    case "mutate_render" =>
      Seq("div.ad, script", "h1.title", "a.ext", "section.s", "ul.items", "div.banner", "body")
    case _ => Seq("a[href]", "base[href]")
  }

  private def us(t0: Long): Double = (System.nanoTime() - t0) / 1000.0

  def run(c: Corpus, t: Tracer, budgetS: Double): Map[String, Double] = {
    val sels = selectors(c.workload)
    val compiled = sels.map(s => Selector.parse(s).fold(e => sys.error(s"selector $s: $e"), identity))
    // warm the probe code paths before timing
    c.pages.take(50).foreach { p =>
      val d = Extractor.parseBytes(p.html)
      compiled.foreach(s => Engine.findSelector(d, ArrayBuffer(0), s))
      Extractor.extractMainCodegen(p.html)
    }
    val parseUs = ArrayBuffer.empty[Double]
    val findUs = ArrayBuffer.empty[Double]
    val mutateUs = ArrayBuffer.empty[Double]
    var parseBytes, textBytes, renderChars = 0L
    var parseT, textT, renderT, mainT, mainParseT = 0.0
    var nodes, elems, matches = 0L
    val ub = new Utf8Builder()
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    var i = 0
    while (i < c.docs && (i < 200 || System.nanoTime() < deadline)) {
      val html = c.pages(i).html
      t.trace = i
      t.span("page") {
        var t0 = System.nanoTime()
        val doc = t.span("html.parse")(Extractor.parseBytes(html))
        val pu = us(t0)
        parseUs += pu; parseT += pu; parseBytes += html.length
        val a = doc.arena
        nodes += a.n
        var k = 0
        while (k < a.n) { if (a.kind(k) == a.ELEM) elems += 1; k += 1 }
        t0 = System.nanoTime()
        t.span("dom.text_utf8") { ub.reset(); a.textContentUtf8(0, ub) }
        textT += us(t0); textBytes += ub.len
        t0 = System.nanoTime()
        val out = t.span("dom.render")(a.outerHtml(0))
        renderT += us(t0); renderChars += out.length
        compiled.foreach { s =>
          t0 = System.nanoTime()
          val found = t.span("query.find")(Engine.findSelector(doc, ArrayBuffer(0), s))
          findUs += us(t0)
          matches += found.size
        }
        // the fused main-content pass re-parses into the same arena: time
        // parse + select together, then parse alone, and keep the difference
        t0 = System.nanoTime()
        t.span("query.extract_main")(Extractor.extractMainCodegen(html))
        mainT += us(t0)
        t0 = System.nanoTime()
        t.span("html.parse")(Extractor.parseBytes(html))
        mainParseT += us(t0)
        if (c.workload == "mutate_render") {
          val root = Vis.loadOrThrow(new String(html, UTF_8))
          t0 = System.nanoTime()
          t.span("query.mutate")(Mutate.edit(root, c.pages(i).url))
          mutateUs += us(t0)
        }
      }
      i += 1
    }
    val pages = i.toDouble
    // compile cost without the per-JVM cache: Selector.parse directly
    val compileUs = ArrayBuffer.empty[Double]
    (0 until 200).foreach { _ =>
      sels.foreach { s =>
        val t0 = System.nanoTime()
        t.span("selector.compile")(Selector.parse(s))
        compileUs += us(t0)
      }
    }
    def q(xs: ArrayBuffer[Double], p: Double): Double =
      if (xs.isEmpty) 0.0 else Stats.quantile(xs.toArray.sorted, p)
    Map(
      "html.parse_mb_per_s" -> parseBytes / parseT, // bytes per µs = MB/s
      "html.parse_us_p50" -> q(parseUs, 0.5),
      "html.parse_us_p99" -> q(parseUs, 0.99),
      "html.nodes_per_doc" -> nodes / pages,
      "selector.compile_us" -> q(compileUs, 0.5),
      "query.find_us_p50" -> q(findUs, 0.5),
      "query.find_us_p99" -> q(findUs, 0.99),
      "query.match_frac" -> matches.toDouble / math.max(1L, elems * compiled.size),
      "query.main_select_us" -> (mainT - mainParseT) / pages,
      "query.mutate_us_p50" -> q(mutateUs, 0.5),
      "dom.text_utf8_mb_per_s" -> textBytes / textT,
      "dom.render_mb_per_s" -> renderChars / renderT)
  }
}
