package perfbench

import graft.query.Vis
import graft.spark.{CrawlGraphOps, ExtractJob}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Outcome of checking one pass's outputs against the planted truth. */
final case class Checked(attempted: Long, failed: Long, notes: Seq[String],
    counts: Map[String, Double] = Map.empty)

/** One benchmark workload: a seeded corpus, a closed-loop pass over it
  * (the next pass starts when this one returns) and a check of the pass's
  * outputs against the generator's answers. */
sealed abstract class Workload(val name: String) {

  /** input files the passes read: url, warc_ts, html (+ per-row columns). */
  def inputSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType)))

  def inputRow(c: Corpus, i: Int): Row = {
    val p = c.pages(i)
    Row(p.url, new java.sql.Timestamp(p.tsMs), p.html)
  }

  /** write the corpus as the input table: 16 files of pages in order. */
  def writeInput(spark: SparkSession, c: Corpus, dir: String): Unit = {
    val rows = c.pages.indices.map(i => inputRow(c, i))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 16), inputSchema)
      .write.mode("overwrite").parquet(dir)
  }

  /** one timed pass; `work` is a scratch directory the pass may fill. */
  def pass(spark: SparkSession, input: String, work: String, t: Tracer): Unit

  /** run the pass's query once and compare every output with the truth;
    * `work` is a scratch directory the query may fill. */
  def check(spark: SparkSession, c: Corpus, input: String, work: String): Checked

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** first few mismatches, for the log. */
  protected def note(notes: scala.collection.mutable.ArrayBuffer[String], s: => String): Unit =
    if (notes.size < 5) notes += s
}

object Workload {
  val all: Seq[Workload] = Seq(ExtractJobW, SelectMultiW, MutateRenderW, CrawlGraphW)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))
}

/** `ExtractJob.run` with its default config: salted bucket exchange,
  * `extractMain` per row, partitioned parquet write, lineage aggregate. */
object ExtractJobW extends Workload("extract_job") {
  def pass(spark: SparkSession, input: String, work: String, t: Tracer): Unit =
    ExtractJob.run(spark, spark.read.parquet(input), work, ExtractJob.Config(runId = "bench"))

  def check(spark: SparkSession, c: Corpus, input: String, work: String): Checked = {
    pass(spark, input, work, new Tracer(false))
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val want = c.pages.indices.map(i => c.pages(i).url -> c.mainText(i)).toMap
    val got = spark.read.parquet(s"$work/extracted").select("url", "text").collect()
    var failed = 0L
    val seen = scala.collection.mutable.HashSet.empty[String]
    got.foreach { r =>
      val url = r.getString(0)
      val text = r.getString(1)
      if (!seen.add(url)) { failed += 1; note(notes, s"duplicate row for $url") }
      else want.get(url) match {
        case Some(w) if w == text => ()
        case Some(w) =>
          failed += 1
          note(notes, s"text mismatch for $url: got ${Option(text).map(_.take(80))} want ${w.take(80)}")
        case None => failed += 1; note(notes, s"unexpected url $url")
      }
    }
    val missing = want.size - (seen.size min want.size)
    if (missing > 0) note(notes, s"$missing pages missing from the output")
    // the lineage must account for every page and byte, with no failures
    val lin = spark.read.parquet(s"$work/lineage")
      .agg(sum("doc_count"), sum("byte_count"), sum("failure_count")).head()
    val linBad = lin.getLong(0) != c.docs || lin.getLong(1) != c.htmlBytes || lin.getLong(2) != 0L
    if (linBad) note(notes, s"lineage totals $lin, want docs=${c.docs} bytes=${c.htmlBytes} failures=0")
    Checked(c.docs + 1L, failed + missing + (if (linBad) 1 else 0), notes.toSeq)
  }
}

/** One SQL `select` of six selector expressions into the noop sink; a
  * minority of rows carries its own selector string. */
object SelectMultiW extends Workload("select_multi") {
  import Corpus._

  override def inputSchema: StructType = super.inputSchema.add(StructField("sel", StringType))
  override def inputRow(c: Corpus, i: Int): Row = Row.fromSeq(super.inputRow(c, i).toSeq :+ c.selTruth(i).sel)

  private def lit(s: String): String = "'" + s.replace("'", "\\'") + "'"

  private def query(spark: SparkSession, input: String): DataFrame = {
    spark.read.parquet(input).createOrReplaceTempView("bench_pages")
    spark.sql(
      s"""SELECT url,
         |  extract_text(html, ${lit(SelTitle)}) AS title,
         |  extract_count(html, ${lit(SelOdd)}) AS odd_items,
         |  extract_count(html, ${lit(SelDeals)}) AS deals,
         |  extract_attrs(html, ${lit(SelNofollow)}, 'href') AS nofollow,
         |  extract_links(html, url) AS links,
         |  extract_text(html, sel) AS dyn
         |FROM bench_pages""".stripMargin)
  }

  def pass(spark: SparkSession, input: String, work: String, t: Tracer): Unit =
    noop(query(spark, input))

  def check(spark: SparkSession, c: Corpus, input: String, work: String): Checked = {
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val want = c.pages.indices.map(i => c.pages(i).url -> c.selTruth(i)).toMap
    val got = query(spark, input).collect()
    var failed = 0L
    got.foreach { r =>
      val w = want(r.getString(0))
      def cmp(col: String, g: Any, e: Any): Unit =
        if (g != e) { failed += 1; note(notes, s"${r.getString(0)} $col: got $g want $e") }
      cmp("title", r.getString(1), w.title)
      cmp("odd_items", if (r.isNullAt(2)) null else r.getLong(2), w.oddItems)
      cmp("deals", if (r.isNullAt(3)) null else r.getLong(3), w.deals)
      cmp("nofollow", Option(r.getSeq[String](4)).map(_.toSeq).orNull, w.nofollow)
      cmp("links", Option(r.getSeq[String](5)).map(_.toSeq).orNull, w.links)
      cmp("dyn", r.getString(6), w.dyn)
    }
    val missing = (c.docs - got.length).max(0) * 6L
    if (missing > 0) note(notes, s"${c.docs - got.length} rows missing")
    Checked(c.docs * 6L, failed + missing, notes.toSeq)
  }
}

/** The mutation sequence each row goes through, then `body` rendered. */
object Mutate extends Serializable {
  def apply(url: String, html: Array[Byte]): String = {
    val root = Vis.loadOrThrow(new String(html, UTF_8))
    edit(root, url)
    root.find("body").outerHtml()
  }

  def edit(root: graft.query.Elems, url: String): Unit = {
    root.find("div.ad, script").remove()
    root.find("h1.title").setText(Corpus.revisedTitle(url))
    root.find("a.ext").setAttr("rel", Some("nofollow noopener"))
    root.find("section.s").setAttr("data-state", Some("seen"))
    root.find("ul.items").append(Vis.loadOrThrow(Corpus.AddedItem))
    root.find("div.banner").replaceWith(Vis.loadOrThrow(Corpus.Notice))
  }
}

/** A typed map through the Vis API: load, remove, setText, setAttr,
  * append and replaceWith fragments, render `outerHtml` to the noop sink. */
object MutateRenderW extends Workload("mutate_render") {
  private def query(spark: SparkSession, input: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(input).select("url", "html").as[(String, Array[Byte])]
      .map { case (u, h) => (u, Mutate(u, h)) }
      .toDF("url", "body")
  }

  def pass(spark: SparkSession, input: String, work: String, t: Tracer): Unit =
    noop(query(spark, input))

  def check(spark: SparkSession, c: Corpus, input: String, work: String): Checked = {
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val want = c.pages.indices.map(i => c.pages(i).url -> c.rendered(i)).toMap
    val got = query(spark, input).collect()
    var failed = 0L
    got.foreach { r =>
      val w = want(r.getString(0))
      val g = r.getString(1)
      if (g != w) {
        failed += 1
        val at = g.zip(w).indexWhere { case (x, y) => x != y } match { case -1 => g.length min w.length; case k => k }
        note(notes, s"${r.getString(0)} differs at char $at: got ${g.slice(at - 30, at + 50)} want ${w.slice(at - 30, at + 50)}")
      }
    }
    Checked(c.docs, failed + (c.docs - got.length).max(0), notes.toSeq)
  }
}

/** `extract_links` over the pages, then `pageRank` and
  * `connectedComponents` with their default budgets on the edge set. The
  * traced run also runs both operators with the budgets at 0, which
  * forces the distributed path that larger graphs take. */
object CrawlGraphW extends Workload("crawl_graph") {

  private def edges(spark: SparkSession, input: String): DataFrame =
    spark.read.parquet(input)
      .select(col("url").as("src"),
        explode(call_function("extract_links", col("html"), col("url"))).as("dst"))

  /** (edge count, pageRank result, components result), all materialized;
    * `distributed` sets both driver budgets to 0. */
  private def run(spark: SparkSession, input: String, t: Tracer, distributed: Boolean)
      : (Long, DataFrame, DataFrame) = {
    val sfx = if (distributed) "_dist" else ""
    val e = edges(spark, input).persist(StorageLevel.MEMORY_AND_DISK)
    val n = t.span("graph.links")(e.count())
    val pr = t.span("graph.pagerank" + sfx) {
      val df =
        if (distributed) CrawlGraphOps.pageRank(e, driverEdgeBudget = 0)
        else CrawlGraphOps.pageRank(e)
      noop(df)
      df
    }
    val cc = t.span("graph.components" + sfx) {
      val ab = e.select(col("src").as("a"), col("dst").as("b"))
      val df =
        if (distributed) CrawlGraphOps.connectedComponents(ab, driverEdgeBudget = 0)
        else CrawlGraphOps.connectedComponents(ab)
      noop(df)
      df
    }
    e.unpersist(false)
    (n, pr, cc)
  }

  def pass(spark: SparkSession, input: String, work: String, t: Tracer): Unit =
    run(spark, input, t, distributed = false)

  def check(spark: SparkSession, c: Corpus, input: String, work: String): Checked =
    checkRun(spark, c, input, distributed = false)

  def checkRun(spark: SparkSession, c: Corpus, input: String, distributed: Boolean,
      t: Tracer = new Tracer(false)): Checked = {
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val (n, prDf, ccDf) = run(spark, input, t, distributed)
    val planted = c.pages.indices.iterator.map(i => c.outlinks(i).length.toLong).sum
    var failed = 0L
    if (n != planted) { failed += 1; note(notes, s"edges: got $n want $planted") }
    val ref = referencePageRank(c)
    val pr = prDf.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ref.foreach { case (node, w) =>
      pr.get(node) match {
        case Some(g) if math.abs(g - w) <= 1e-12 + 1e-9 * math.abs(w) => ()
        case g => failed += 1; note(notes, s"pagerank($node): got $g want $w")
      }
    }
    if (pr.size != ref.size) { failed += 1; note(notes, s"pagerank nodes: got ${pr.size} want ${ref.size}") }
    val cc = ccDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    c.component.foreach { case (node, w) =>
      if (!cc.get(node).contains(w)) { failed += 1; note(notes, s"component($node): got ${cc.get(node)} want $w") }
    }
    if (cc.size != c.component.size) { failed += 1; note(notes, s"component nodes: got ${cc.size} want ${c.component.size}") }
    Checked(1L + ref.size + 1 + c.component.size + 1, failed, notes.toSeq,
      Map("edges" -> n.toDouble))
  }

  /** plain-Scala power iteration over the planted (distinct) link set,
    * with the operator's documented formula:
    * pr'(v) = (1-d)/N + d·(Σ pr(u)/outdeg(u) + D/N), 8 rounds, d = 0.85. */
  def referencePageRank(c: Corpus, iters: Int = 8, d: Double = 0.85): Map[String, Double] = {
    val id = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def of(s: String): Int = id.getOrElseUpdate(s, id.size)
    val src = scala.collection.mutable.ArrayBuffer.empty[Int]
    val dst = scala.collection.mutable.ArrayBuffer.empty[Int]
    c.pages.indices.foreach { i =>
      val links = c.outlinks(i)
      if (links.nonEmpty) {
        val s = of(c.pages(i).url)
        links.foreach { l => src += s; dst += of(l) }
      }
    }
    val n = id.size
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)
    var pr = Array.fill(n)(1.0 / n)
    (1 to iters).foreach { _ =>
      var dang = 0.0
      (0 until n).foreach(v => if (outdeg(v) == 0) dang += pr(v))
      val next = Array.fill(n)((1 - d) / n + d * dang / n)
      src.indices.foreach(k => next(dst(k)) += d * pr(src(k)) / outdeg(src(k)))
      pr = next
    }
    id.iterator.map { case (s, i) => s -> pr(i) }.toMap
  }
}
