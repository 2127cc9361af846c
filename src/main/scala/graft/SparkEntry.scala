package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.Vis
import graft.spark.{Extractor, PagesGen, TextFixtures, TextOps}

/** One gated query: its name, the DuckDB SQL that defines its answer over
  * the same parquet tables, and the Spark body that must reproduce that
  * answer. `graft.Verify` writes each body's result and every oracle for
  * the DuckDB compare; `graft.Bench` times each body. */
final case class QuerySpec(name: String, oracleSql: String)(
    val body: (SparkSession, String) => DataFrame)

/** Gate contract — `queryTable` holds one `QuerySpec` row per implemented
  * operator area from SURVEY.md §2 plus the training-data ops, each body
  * beside its DuckDB oracle. HTML-engine queries synthesize a
  * page per document row deterministically (PagesGen/TextFixtures-style),
  * run the engine, and emit columns the oracle can recompute with plain SQL
  * arithmetic — so a value match proves the operator end-to-end
  * (parse → select → extract → render).
  */
object SparkEntry {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** spread a tiny single-file gate table across the session's cores
    * before a CPU-heavy per-row stage (guide §2.5 — "input skew: one
    * huge unsplittable file ... repartition immediately after the
    * read"): documents.parquet is ONE small parquet file, so its scan is
    * one task and any expensive per-row map/expression chain otherwise
    * runs serially regardless of core count. Hash-partition on the
    * unique doc_id with an EXPLICIT partition count (an implicit
    * `repartition(col)` would let AQE coalesce a few hundred KB straight
    * back to one partition, defeating the point). Deterministic key, so
    * retries are safe (guide §2.5); per-row values and the gate orderBy
    * output are unchanged. */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  /** Flagship: full main-content extraction over the synthesized pages
    * corpus at sf0.001 (byte-identity: extracted == oracle text column). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    PagesGen.fromDocuments(spark, sfDir)
      .map(p => (p.url, Extractor.extractMain(p.html, Extractor.Recipe.default)))
      .toDF("url", "extracted")
  }

  // m-variant helper used by the synthetic fixtures
  @inline private def rep(s: String, n: Long): String = s * n.toInt

  /** stable sample across the HTML5 named-entity families, extended in
    * round 3 with multi-codepoint sequences and completeness-patch names;
    * q_entities draws `doc_id %% length`. The expected decode of each name
    * is PINNED as a literal generated from the published WHATWG list (not
    * from graft.dom.Entities), so the DuckDB oracle is independent of the
    * decode table under test. */
  private val EntitySample: Array[(String, String)] = Array(
    ("hellip", "\u2026"), ("ndash", "\u2013"),
    ("mdash", "\u2014"), ("rsquo", "\u2019"),
    ("lsquo", "\u2018"), ("ldquo", "\u201c"),
    ("rdquo", "\u201d"), ("shy", "\u00ad"),
    ("copy", "\u00a9"), ("reg", "\u00ae"),
    ("trade", "\u2122"), ("deg", "\u00b0"),
    ("middot", "\u00b7"), ("laquo", "\u00ab"),
    ("raquo", "\u00bb"), ("frac12", "\u00bd"),
    ("frac34", "\u00be"), ("frac13", "\u2153"),
    ("frac58", "\u215d"), ("times", "\u00d7"),
    ("divide", "\u00f7"), ("szlig", "\u00df"),
    ("eacute", "\u00e9"), ("Uuml", "\u00dc"),
    ("ccedil", "\u00e7"), ("oelig", "\u0153"),
    ("Scaron", "\u0160"), ("alpha", "\u03b1"),
    ("Omega", "\u03a9"), ("pi", "\u03c0"),
    ("sigmaf", "\u03c2"), ("epsiv", "\u03f5"),
    ("Acy", "\u0410"), ("zhcy", "\u0436"),
    ("SHCHcy", "\u0429"), ("yacy", "\u044f"),
    ("Aopf", "\ud835\udd38"), ("Zopf", "\u2124"),
    ("ropf", "\ud835\udd63"), ("Cfr", "\u212d"),
    ("Iscr", "\u2110"), ("escr", "\u212f"),
    ("boxDR", "\u2554"), ("boxVH", "\u256c"),
    ("boxh", "\u2500"), ("larr", "\u2190"),
    ("rArr", "\u21d2"), ("mapsto", "\u21a6"),
    ("hookleftarrow", "\u21a9"), ("nleftarrow", "\u219a"),
    ("xrArr", "\u27f9"), ("forall", "\u2200"),
    ("exist", "\u2203"), ("nexist", "\u2204"),
    ("isin", "\u2208"), ("notin", "\u2209"),
    ("sum", "\u2211"), ("prod", "\u220f"),
    ("int", "\u222b"), ("oint", "\u222e"),
    ("le", "\u2264"), ("ge", "\u2265"),
    ("ne", "\u2260"), ("asymp", "\u2248"),
    ("otimes", "\u2297"), ("perp", "\u22a5"),
    ("sdot", "\u22c5"), ("lceil", "\u2308"),
    ("rang", "\u27e9"), ("spades", "\u2660"),
    ("hearts", "\u2665"), ("check", "\u2713"),
    ("bigstar", "\u2605"), ("euro", "\u20ac"),
    ("dagger", "\u2020"), ("permil", "\u2030"),
    ("bull", "\u2022"), ("lambda", "\u03bb"),
    ("Gamma", "\u0393"), ("ohm", "\u03a9"),
    ("nLt", "\u226a\u20d2"), ("nGt", "\u226b\u20d2"),
    ("fjlig", "fj"), ("ThickSpace", "\u205f\u200a"),
    ("NotEqualTilde", "\u2242\u0338"), ("bne", "=\u20e5"),
    ("bnequiv", "\u2261\u20e5"), ("caps", "\u2229\ufe00"),
    ("cups", "\u222a\ufe00"), ("varsubsetneqq", "\u2acb\ufe00"),
    ("gvertneqq", "\u2269\ufe00"), ("nang", "\u2220\u20d2"),
    ("nvltrie", "\u22b4\u20d2"), ("race", "\u223d\u0331"),
    ("acE", "\u223e\u0333"), ("NotSubset", "\u2282\u20d2"),
    ("NotNestedLessLess", "\u2aa1\u0338"), ("nparsl", "\u2afd\u20e5"),
    ("smtes", "\u2aac\ufe00"), ("nGg", "\u22d9\u0338"),
    ("And", "\u2a53"), ("Colone", "\u2a74"),
    ("Cross", "\u2a2f"), ("DownLeftRightVector", "\u2950"),
    ("Equal", "\u2a75"), ("HARDcy", "\u042a"),
    ("LeftTriangleBar", "\u29cf"), ("Not", "\u2aec"),
    ("RuleDelayed", "\u29f4"), ("ZeroWidthSpace", "\u200b"),
    ("angmsdaa", "\u29a8"), ("bemptyv", "\u29b0"),
    ("capbrcup", "\u2a49"), ("congdot", "\u2a6d"),
    ("cwint", "\u2231"), ("demptyv", "\u29b1"),
    ("eqvparsl", "\u29e5"), ("gesdotol", "\u2a84"),
    ("lbrksld", "\u298f"), ("mapstoup", "\u21a5"),
    ("midcir", "\u2af0"), ("nhpar", "\u2af2"),
    ("odsold", "\u29bc"), ("olcir", "\u29be"),
    ("rpargt", "\u2994"), ("simrarr", "\u2972"),
    ("smashp", "\u2a33"), ("suphsol", "\u27c9"),
    ("trisb", "\u29cd"), ("upuparrows", "\u21c8"),
    ("veeeq", "\u225a"), ("xsqcup", "\u2a06"))

  private def sqlStringList(items: Seq[String]): String =
    items.map(s => "'" + s.replace("'", "''") + "'").mkString("[", ",", "]")

  /** DuckDB recomputes brute-force top-5 per query vector independently
    * (list_cosine_similarity); the Spark side must reproduce it through its
    * ANN candidate machinery — the cross-engine recall gate. */
  private val AnnMultiQueryOracle: String =
    "SELECT qid, CAST(rank AS INT) AS rank, vec_id FROM (" +
      "SELECT q.vec_id AS qid, e.vec_id AS vec_id, " +
      "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), " +
      "CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank " +
      "FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q" +
      ") WHERE rank <= 5 ORDER BY qid, rank"

  /** the same brute-force top-5 for query vector 0 alone. */
  private val AnnQuery0Oracle: String =
    "SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS INT) AS rank, vec_id " +
      "FROM (SELECT e.vec_id, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), " +
      "CAST(q.embedding AS DOUBLE[])) AS c FROM embeddings e, " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0) q) " +
      "ORDER BY rank LIMIT 5"

  /** the planted near-dup pairs (2k, 2k+1) with k even, both ids present:
    * the answer of every near-dup detector run over a planted pair corpus. */
  private val DedupPairOracle: String =
    "SELECT doc_id AS left_id, doc_id + 1 AS right_id FROM documents " +
      "WHERE doc_id % 2 = 0 AND (doc_id // 2) % 2 = 0 " +
      "AND EXISTS (SELECT 1 FROM documents d2 WHERE d2.doc_id = documents.doc_id + 1) " +
      "ORDER BY 1, 2"

  /** the PDF generator's planted text rebuilt in plain SQL: per page p,
    * "d<id> p<p> top (x)\nd<id> p<p> bot", pages joined by newline. */
  private val PdfOracle: String = {
    def pg(p: Int): String =
      s"('d' || CAST(doc_id AS VARCHAR) || ' p$p top (x)' || chr(10) || " +
        s"'d' || CAST(doc_id AS VARCHAR) || ' p$p bot')"
    "SELECT doc_id, CASE CAST(doc_id % 3 AS INT) " +
      s"WHEN 0 THEN ${pg(0)} " +
      s"WHEN 1 THEN ${pg(0)} || chr(10) || ${pg(1)} " +
      s"ELSE ${pg(0)} || chr(10) || ${pg(1)} || chr(10) || ${pg(2)} END AS pdf_text, " +
      "CAST(1 + doc_id % 3 AS BIGINT) AS n_pages FROM documents ORDER BY doc_id"
  }

  /** The 82 gated queries in run order. A `val` declared after the shared
    * oracle helpers above: declared before them, it would read them while
    * they are still `null`. */
  val queryTable: Seq[QuerySpec] = Seq(
    // ---- 1. flagship byte-identity roundtrip (parse+strip+text+entities) ----
    QuerySpec("q_extract_main",
      "SELECT doc_id, text AS extracted FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id", "text", "lang").as[(Long, String, String)]
        .map { case (id, text, lang) =>
          val t = if (text == null) "" else text
          val html = PagesGen.htmlOf(id, t, if (lang == null) "en" else lang)
          (id, Extractor.extractMain(html, Extractor.Recipe.default))
        }.toDF("doc_id", "extracted").orderBy("doc_id")
    }),

    // ---- 2. tag-name selector over per-row DOM ----
    QuerySpec("q_sel_tag_count",
      "SELECT doc_id, CAST((doc_id % 7) + 1 AS BIGINT) AS cnt FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val k = (id % 7) + 1
        val html = "<ul>" + rep("<li>x</li>", k) + "</ul>"
        val root = Vis.loadOrThrow(html)
        (id, root.find("li").length.toLong)
      }.toDF("doc_id", "cnt").orderBy("doc_id")
    }),

    // ---- 3. nth-child An+B + first-child ----
    QuerySpec("q_sel_nth",
      "SELECT doc_id, repeat('x', CAST(FLOOR(((doc_id % 7) + 1) / 2.0) AS INT)) AS nth_txt, " +
        "'x' AS first_txt FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val k = (id % 7) + 1
        val html = "<ul>" + rep("<li>x</li>", k) + "</ul>"
        val root = Vis.loadOrThrow(html)
        (id, root.find("li:nth-child(2n)").text(), root.find("li:first-child").text())
      }.toDF("doc_id", "nth_txt", "first_txt").orderBy("doc_id")
    }),

    // ---- 4. attribute operators |= ~= != ----
    QuerySpec("q_sel_attr",
      "SELECT doc_id, " +
        "CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 3 END AS BIGINT) AS c_dash, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 3 END AS BIGINT) AS c_word, " +
        "CAST(CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 4 END AS BIGINT) AS c_ne " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 3
        val lang5 = m match { case 0 => "en-x"; case 1 => "zz en"; case _ => "en" }
        val html =
          s"""<nav><a lang="en">1</a><a lang="en-UK">2</a><a lang="english">3</a>""" +
            s"""<a lang="uk en">4</a><a lang="$lang5">5</a></nav>"""
        val root = Vis.loadOrThrow(html)
        val links = root.find("nav").children("")
        (id,
          links.filter("[lang|='en']").length.toLong,
          links.filter("[lang~='en']").length.toLong,
          links.filter("[lang!='en']").length.toLong)
      }.toDF("doc_id", "c_dash", "c_word", "c_ne").orderBy("doc_id")
    }),

    // ---- 5. *-of-type family ----
    QuerySpec("q_sel_type",
      "SELECT doc_id, 't1d1' AS fot, " +
        "concat('t', CAST((doc_id % 5) + 1 AS VARCHAR), 'd', CAST((doc_id % 5) + 1 AS VARCHAR)) AS lot " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val d = (id % 5) + 1
        val html = "<dl>" +
          (1L to d).map(i => s"<dt>t$i</dt><dd>d$i</dd>").mkString + "</dl>"
        val root = Vis.loadOrThrow(html)
        val dl = root.find("dl")
        (id, dl.find(":first-of-type").text(), dl.find(":last-of-type").text())
      }.toDF("doc_id", "fot", "lot").orderBy("doc_id")
    }),

    // ---- 6. sibling traversal (next_all / prev_all / siblings) ----
    QuerySpec("q_traverse",
      "SELECT doc_id, CAST((doc_id % 5) + 1 AS BIGINT) AS nexts, " +
        "CAST((doc_id % 5) + 1 AS BIGINT) AS prevs, " +
        "CAST(2 * ((doc_id % 5) + 1) - 1 AS BIGINT) AS sibs " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val d = (id % 5) + 1
        val html = "<dl>" +
          (1L to d).map(i => s"<dt>t$i</dt><dd>d$i</dd>").mkString + "</dl>"
        val root = Vis.loadOrThrow(html)
        val firstDt = root.find("dt").first()
        val lastDd = root.find("dd").last()
        (id,
          firstDt.nextAll("dd").length.toLong,
          lastDd.prevAll("dt").length.toLong,
          firstDt.siblings("").length.toLong)
      }.toDF("doc_id", "nexts", "prevs", "sibs").orderBy("doc_id")
    }),

    // ---- 7. filter / not over class lists ----
    QuerySpec("q_filter_not",
      "SELECT doc_id, CAST(FLOOR(((doc_id % 6) + 3) / 2.0) AS BIGINT) AS n_a, " +
        "CAST(FLOOR(((doc_id % 6) + 2) / 2.0) AS BIGINT) AS n_b " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val k = (id % 6) + 2
        val html = "<ul>" + (0L until k).map(i =>
          s"""<li class="${if (i % 2 == 0) "a" else "b"}">$i</li>""").mkString + "</ul>"
        val root = Vis.loadOrThrow(html)
        val lis = root.find("li")
        (id, lis.filter(".a").length.toLong, lis.not(".a").length.toLong)
      }.toDF("doc_id", "n_a", "n_b").orderBy("doc_id")
    }),

    // ---- 8. mutation: remove + set_text + set_attr ----
    QuerySpec("q_mutate",
      "SELECT doc_id, concat('k', CAST(doc_id % 10 AS VARCHAR)) AS txt, " +
        "concat('v', CAST(doc_id % 10 AS VARCHAR)) AS att FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 10
        val html = s"""<div id="m"><b>x</b><i>y</i><script>s()</script></div>"""
        val root = Vis.loadOrThrow(html)
        root.find("i,script").remove()
        val b = root.find("b")
        b.setText(s"k$m")
        b.setAttr("data-x", Some(s"v$m"))
        (id, root.find("#m").text(), b.attr("data-x").map(_.value).getOrElse(""))
      }.toDF("doc_id", "txt", "att").orderBy("doc_id")
    }),

    // ---- 9. entity decoding (named / decimal / hex / nbsp + a rotating
    //      draw from the full HTML5 named table) ----
    QuerySpec("q_entities",
      "SELECT doc_id, concat('<A>&BC', chr(160), 'z', CAST(doc_id % 100 AS VARCHAR)) AS txt, " +
        "(" + sqlStringList(EntitySample.map(_._2 + "!")) +
        s")[CAST(doc_id % ${EntitySample.length} AS INT) + 1] AS ent " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      val sample = EntitySample
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 100
        val name = sample((id % sample.length).toInt)._1
        val html = s"<p>&lt;A&gt;&amp;&#66;&#x43;&nbsp;z$m</p><i>&$name;!</i>"
        val root = Vis.loadOrThrow(html)
        (id, root.find("p").text(), root.find("i").text())
      }.toDF("doc_id", "txt", "ent").orderBy("doc_id")
    }),

    // ---- 10. form value (:checked + val) ----
    QuerySpec("q_val",
      "SELECT doc_id, CAST((doc_id % 3) + 1 AS VARCHAR) AS v, CAST(1 AS BIGINT) AS checked_cnt " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val sel = (id % 3) + 1
        val html = "<select>" + (1L to 3L).map(i =>
          s"""<option value="$i"${if (i == sel) " selected" else ""}>o$i</option>""").mkString +
          "</select>"
        val root = Vis.loadOrThrow(html)
        (id, root.find("select").valString(),
          root.find("option:checked").length.toLong)
      }.toDF("doc_id", "v", "checked_cnt").orderBy("doc_id")
    }),

    // ---- 11. render fidelity (outer_html round trip) ----
    QuerySpec("q_outer_html",
      "SELECT doc_id, concat('<div class=\"c', CAST(doc_id % 5 AS VARCHAR), " +
        "'\"><span id=\"s', CAST(doc_id % 5 AS VARCHAR), '\">T</span></div>') AS o " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 5
        val html = s"""<div class="c$m"><span id="s$m">T</span></div>"""
        val root = Vis.loadOrThrow(html)
        (id, root.find("div").outerHtml())
      }.toDF("doc_id", "o").orderBy("doc_id")
    }),

    // ---- 12. texts() collection (content tags as text nodes) ----
    QuerySpec("q_texts",
      "SELECT doc_id, concat('a', CAST(doc_id % 100 AS VARCHAR), '|B|C|J') AS t " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 100
        val html = s"<div>a$m<span>B</span>C<script>J</script></div>"
        val root = Vis.loadOrThrow(html)
        val texts = root.find("div").texts(0)
        val parts = (0 until texts.length).map(i => texts.get(i).text())
        (id, parts.mkString("|"))
      }.toDF("doc_id", "t").orderBy("doc_id")
    }),

    // ---- 12b. text-node mutation: TextHandle append/prepend/setText/
    //      remove/setHtml + Texts.filterBy ----
    QuerySpec("q_texts_mut",
      "SELECT doc_id, concat('a', CAST(doc_id % 8 AS VARCHAR), 'B2') AS t_div, " +
        "concat('y', CAST(doc_id % 8 AS VARCHAR), 'z') AS t_p, " +
        "concat('<b>y', CAST(doc_id % 8 AS VARCHAR), '</b>z') AS h_p, " +
        "CAST(2 AS BIGINT) AS n_fby " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 8
        val root = Vis.loadOrThrow("<div>a<span>b</span>c</div><p>x</p>")
        val texts = root.find("div").texts(0)
        texts.get(0).appendText(s"$m")
        texts.get(1).setText("B2")
        texts.get(2).remove()
        root.find("p").texts(0).get(0).setHtml(s"<b>y$m</b>z")
        val nonEmpty = root.find("div").texts(0)
          .filterBy((_, h) => h.text().nonEmpty).length.toLong
        (id, root.find("div").text(), root.find("p").text(),
          root.find("p").html(), nonEmpty)
      }.toDF("doc_id", "t_div", "t_p", "h_p", "n_fby").orderBy("doc_id")
    }),

    // ---- 13. pseudo-class battery: :not/:has/:contains/:empty/:only-child/
    //      :root + prefix/suffix/substring attribute operators ----
    QuerySpec("q_sel_pseudo",
      "SELECT doc_id, " +
        "CAST(1 + doc_id % 4 AS BIGINT) AS n_not, " +
        "CAST(doc_id % 4 AS BIGINT) AS n_contains, " +
        "CAST(1 AS BIGINT) AS n_empty, " +
        "CAST(1 AS BIGINT) AS n_only, " +
        "CAST(1 AS BIGINT) AS n_root, " +
        "CAST(1 AS BIGINT) AS n_pre, " +
        "CAST(1 AS BIGINT) AS n_suf, " +
        "CAST(doc_id % 4 AS BIGINT) AS n_sub, " +
        "CAST(2 AS BIGINT) AS n_has " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 4
        val html = "<html><body><div id=\"r\"><p class=\"a\">alpha</p><p>beta</p>" +
          "<span></span><div class=\"in\"><b>inner</b></div>" +
          rep("<p class=\"x\">gamma</p>", m) + "</div></body></html>"
        val root = Vis.loadOrThrow(html)
        (id,
          root.find("p:not(.a)").length.toLong,
          root.find("p:contains('amma')").length.toLong,
          root.find(":empty").length.toLong,
          root.find("b:only-child").length.toLong,
          root.find(":root").length.toLong,
          root.find("[class^='a']").length.toLong,
          root.find("[class$='n']").length.toLong,
          root.find("[class*='x']").length.toLong,
          root.find("div:has(b)").length.toLong)
      }.toDF("doc_id", "n_not", "n_contains", "n_empty", "n_only", "n_root",
        "n_pre", "n_suf", "n_sub", "n_has").orderBy("doc_id")
    }),

    // ---- 14. combinators + positional set ops: `+` `~` closest/parents/
    //      parentsUntil/slice/eq/add/nextUntil/prevUntil/isAll/filterBy/is ----
    QuerySpec("q_combinators",
      "WITH t AS (SELECT doc_id, (doc_id % 6) + 3 AS k FROM documents) " +
        "SELECT doc_id, CAST(k - 1 AS BIGINT) AS n_adj, CAST(k - 1 AS BIGINT) AS n_gen, " +
        "CAST(1 AS BIGINT) AS n_closest, CAST(4 AS BIGINT) AS n_parents, " +
        "CAST(2 AS BIGINT) AS n_puntil, CAST(2 AS BIGINT) AS n_slice, " +
        "'i2' AS t_eq, CAST(k + 1 AS BIGINT) AS n_add, " +
        "CAST(k - 2 AS BIGINT) AS n_nuntil, CAST(k - 2 AS BIGINT) AS n_puntil2, " +
        "CAST(2 AS BIGINT) AS n_is2, " +
        "CAST(FLOOR((k + 1) / 2.0) AS BIGINT) AS n_fby " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val k = (id % 6) + 3
        val html = "<html><body><div class=\"w\"><ul>" +
          (0L until k).map(i =>
            s"""<li${if (i == 0) " class=\"f\"" else ""}>i$i</li>""").mkString +
          "</ul></div></body></html>"
        val root = Vis.loadOrThrow(html)
        val lis = root.find("li")
        (id,
          root.find("li + li").length.toLong,
          root.find("li.f ~ li").length.toLong,
          lis.eq(1).closest("div").length.toLong,
          lis.first().parents("").length.toLong,
          lis.first().parentsUntil("body", "", contains = false).length.toLong,
          lis.slice(1, 3).length.toLong,
          lis.eq(2).text(),
          root.find("ul").add(lis).length.toLong,
          lis.first().nextUntil(s"li:nth-child($k)", "", contains = false).length.toLong,
          lis.last().prevUntil(".f", "", contains = false).length.toLong,
          (if (lis.isAll("li")) 1L else 0L) + (if (lis.is(".f")) 1L else 0L),
          lis.filterBy((i, _) => i % 2 == 0).length.toLong)
      }.toDF("doc_id", "n_adj", "n_gen", "n_closest", "n_parents", "n_puntil",
        "n_slice", "t_eq", "n_add", "n_nuntil", "n_puntil2", "n_is2", "n_fby")
        .orderBy("doc_id")
    }),

    // ---- 15. html()/setHtml/before/after/prepend/append/replaceWith/empty/
    //      class ops/removeAttr/textChars/setText-encode ----
    QuerySpec("q_html_mut",
      "SELECT doc_id, " +
        "concat('<i>I</i><u>u', CAST(doc_id % 7 AS VARCHAR), " +
        "'</u><b>B</b><s>S</s><em>&amp;E</em><q>Q</q>') AS h_inner, " +
        "'&amp;E' AS t_chars, '&E' AS t_dec, " +
        "concat('<span>z', CAST(doc_id % 7 AS VARCHAR), '</span>') AS h_q, " +
        "'<s></s>' AS h_s, 'a&lt;b&amp;c' AS h_i, " +
        "concat('<p class=\"qq\">Q', CAST(doc_id % 7 AS VARCHAR), '</p>') AS t_p, " +
        "'c3' AS cls, CAST(1 AS BIGINT) AS b_has, CAST(0 AS BIGINT) AS b_attr " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 7
        val html = "<html><body><div id=\"box\" data-x=\"1\"><b>B</b>" +
          "<em>&amp;E</em></div><p class=\"p0\">P</p></body></html>"
        val root = Vis.loadOrThrow(html)
        def frag(h: String) = Vis.loadOrThrow(h)
        val box = root.find("#box")
        val b = root.find("b")
        b.before(frag(s"<u>u$m</u>"))
        b.after(frag("<s>S</s>"))
        box.prepend(frag("<i>I</i>"))
        box.append(frag("<q>Q</q>"))
        val hInner = box.html()
        val tChars = root.find("em").textChars()
        val tDec = root.find("em").text()
        root.find("q").setHtml(s"<span>z$m</span>")
        val hQ = root.find("q").html()
        root.find("s").empty()
        val hS = root.find("s").outerHtml()
        root.find("i").setText("a<b&c")
        val hI = root.find("i").html()
        root.find("p").replaceWith(frag(s"""<p class="qq">Q$m</p>"""))
        val tP = root.find("p").outerHtml()
        box.addClass("c1 c2")
        box.toggleClass("c2 c3")
        box.removeClass("c1")
        val cls = box.attr("class").map(_.value).getOrElse("")
        val bHas = if (box.hasClass("c3")) 1L else 0L
        box.removeAttr("data-x")
        val bAttr = if (box.hasAttr("data-x")) 1L else 0L
        (id, hInner, tChars, tDec, hQ, hS, hI, tP, cls, bHas, bAttr)
      }.toDF("doc_id", "h_inner", "t_chars", "t_dec", "h_q", "h_s", "h_i",
        "t_p", "cls", "b_has", "b_attr").orderBy("doc_id")
    }),

    // ---- 16. document ops: title/head/body/documentElement/
    //      getElementById/sourceCode round-trip + :input/:header aliases ----
    QuerySpec("q_doc_ops",
      "SELECT doc_id, " +
        "concat('T', CAST(doc_id % 9 AS VARCHAR)) AS t_title, " +
        "concat('v', CAST(doc_id % 9 AS VARCHAR)) AS v_in, " +
        "concat('ta', CAST(doc_id % 9 AS VARCHAR)) AS v_ta, " +
        "CAST(1 AS BIGINT) AS n_checked, 'Z' AS t_byid, " +
        "CAST(5 AS BIGINT) AS n_body, CAST(1 AS BIGINT) AS n_head, " +
        "CAST(3 AS BIGINT) AS n_input, CAST(1 AS BIGINT) AS n_header, " +
        "CAST(1 AS BIGINT) AS b_src " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = id % 9
        val html = s"""<!doctype html><html><head><title>T$m</title></head>""" +
          s"""<body><h2>H</h2><input type="checkbox" checked />""" +
          s"""<input id="v" value="v$m" /><textarea>ta$m</textarea>""" +
          s"""<div id="z$m">Z</div></body></html>"""
        val root = Vis.loadOrThrow(html)
        val doc = root.doc
        (id,
          doc.title.getOrElse(""),
          root.find("#v").valString(),
          root.find("textarea").valString(),
          root.find(":checked").length.toLong,
          doc.getElementById(s"z$m").text(),
          doc.body.map(_.children("").length.toLong).getOrElse(-1L),
          doc.head.map(_.children("").length.toLong).getOrElse(-1L),
          root.find(":input").length.toLong,
          root.find(":header").length.toLong,
          if (doc.sourceCode == html) 1L else 0L)
      }.toDF("doc_id", "t_title", "v_in", "v_ta", "n_checked", "t_byid",
        "n_body", "n_head", "n_input", "n_header", "b_src").orderBy("doc_id")
    }),

    // ---- 16b. HTML5 implicit-tree crawl mode (ParseOptions.crawl):
    //      a realistic page with NO explicit html/head/body and unclosed
    //      <p>/<li> — implied structure + auto-close must produce the
    //      spec tree, metadata must land in head, and re-render stays
    //      byte-identical (implied elements render transparently) ----
    QuerySpec("q_html5_tree",
      "SELECT doc_id, " +
        "CAST(1 + doc_id % 3 AS BIGINT) AS n_body_p, " +
        "CAST(1 + doc_id % 5 AS BIGINT) AS n_li, " +
        "CAST(0 AS BIGINT) AS n_nested, " +
        "concat('T', CAST(doc_id AS VARCHAR)) AS t_title, " +
        "CAST(2 AS BIGINT) AS n_head_kids, " +
        "concat(repeat('par', CAST(1 + doc_id % 3 AS INT)), " +
        "repeat('item', CAST(1 + doc_id % 5 AS INT)), 'tail', " +
        "CAST(doc_id AS VARCHAR)) AS body_text, " +
        "CAST(1 AS BIGINT) AS b_src " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val nLi = 1 + (id % 5).toInt
        val nP = 1 + (id % 3).toInt
        val html = s"""<!DOCTYPE html><meta charset="utf-8"><title>T$id</title>""" +
          ("<p>par" * nP) + "<ul>" + ("<li>item" * nLi) + s"</ul><div>tail$id</div>"
        val root = Vis.loadOptions(html, graft.html.ParseOptions.crawl)
          .toOption.get
        (id,
          root.find("body > p").length.toLong,
          root.find("ul > li").length.toLong,
          root.find("li li, p p, p ul").length.toLong, // auto-close: no nesting
          root.find("head > title").text(),
          root.find("head").children("").length.toLong, // meta + title
          root.find("body").text(),
          if (root.doc.sourceCode == html) 1L else 0L)
      }.toDF("doc_id", "n_body_p", "n_li", "n_nested", "t_title",
        "n_head_kids", "body_text", "b_src").orderBy("doc_id")
    }),

    // ---- 16c. SQL extract_main_crawl vs extract_main on fragment pages
    //      (no explicit body): the crawl profile's implied body gives the
    //      recipe's `body` candidate a match, so main-content extraction
    //      returns content only, while the compat profile falls back to
    //      the whole root (title included) — both closed-form ----
    QuerySpec("q_sql_crawl",
      "SELECT doc_id, " +
        "concat('c', CAST(doc_id AS VARCHAR), ' one', 'c', CAST(doc_id AS VARCHAR), ' two') AS main_txt, " +
        "concat('T', CAST(doc_id AS VARCHAR), " +
        "'c', CAST(doc_id AS VARCHAR), ' one', 'c', CAST(doc_id AS VARCHAR), ' two') AS compat_txt " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        (id, s"""<meta charset="utf-8"><title>T$id</title><nav>menu</nav>""" +
          s"<p>c$id one<p>c$id two<footer>f</footer>")
      }.toDF("doc_id", "html")
        .select(col("doc_id"),
          call_function("extract_main_crawl", col("html")).as("main_txt"),
          call_function("extract_main", col("html")).as("compat_txt"))
        .orderBy("doc_id")
    }),

    // ---- 16f. charset sniff + transcode (the layer between raw crawl
    //      payload bytes and the engine's UTF-8 contract): 8 encoding
    //      variants — UTF-8 plain/BOM, cp1252 via Content-Type header,
    //      cp1251 via <meta charset>, Shift_JIS via http-equiv, GBK via
    //      a gb2312 header label, UNDECLARED cp1252 (content heuristic),
    //      UTF-16LE BOM — sniffed by charset_of, transcoded by
    //      decode_html, and the decoded bytes extracted by extract_text;
    //      the oracle recomputes both columns closed-form via chr() ----
    QuerySpec("q_charset",
      // ASCII-only SQL: non-ASCII expectations built with chr() so the
      // oracle text survives any driver-side JSON/encoding handling
      ("WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS v FROM documents) " +
        "SELECT doc_id, " +
        "CASE v WHEN 2 THEN 'windows-1252' WHEN 3 THEN 'windows-1251' " +
        "WHEN 4 THEN 'shift_jis' WHEN 5 THEN 'gbk' WHEN 6 THEN 'windows-1252' " +
        "WHEN 7 THEN 'utf-16le' ELSE 'utf-8' END AS cs, " +
        "CASE v WHEN 0 THEN 'h' || chr(233) || 'llo w' || CAST(doc_id AS VARCHAR) " +
        "WHEN 1 THEN 'bom w' || CAST(doc_id AS VARCHAR) " +
        "WHEN 2 THEN 'caf' || chr(233) || ' w' || CAST(doc_id AS VARCHAR) " +
        "WHEN 3 THEN chr(1087) || chr(1088) || chr(1080) || chr(1074) || chr(1077) || chr(1090) || ' w' || CAST(doc_id AS VARCHAR) " +
        "WHEN 4 THEN chr(26085) || chr(26412) || ' w' || CAST(doc_id AS VARCHAR) " +
        "WHEN 5 THEN chr(20013) || chr(25991) || ' w' || CAST(doc_id AS VARCHAR) " +
        "WHEN 6 THEN 'na' || chr(239) || 've w' || CAST(doc_id AS VARCHAR) " +
        "ELSE 'wide w' || CAST(doc_id AS VARCHAR) END AS txt " +
        "FROM t ORDER BY doc_id"))((s, dir) => {
      import s.implicits._
      def enc(t: String, cs: String) = t.getBytes(java.nio.charset.Charset.forName(cs))
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val (html, ct) = ((id % 8).toInt: @unchecked) match {
          case 0 => (enc(s"<p>héllo w$id</p>", "UTF-8"), null)
          case 1 => (Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
            enc(s"<p>bom w$id</p>", "UTF-8"), null)
          case 2 => (enc(s"<p>café w$id</p>", "windows-1252"),
            "text/html; charset=iso-8859-1")
          case 3 => (enc(s"<meta charset=windows-1251><p>привет w$id</p>", "windows-1251"), null)
          case 4 => (enc("<meta http-equiv=content-type content=\"text/html; charset=shift_jis\">" +
            s"<p>日本 w$id</p>", "windows-31j"), null)
          case 5 => (enc(s"<p>中文 w$id</p>", "GBK"),
            "text/html; charset=gb2312")
          case 6 => (enc(s"<p>naïve w$id</p>", "windows-1252"), null)
          case 7 => (Array(0xFF.toByte, 0xFE.toByte) ++
            enc(s"<p>wide w$id</p>", "UTF-16LE"), null)
        }
        (id, html, ct)
      }.toDF("doc_id", "html", "ct")
        .select(col("doc_id"),
          call_function("charset_of", col("html"), col("ct")).as("cs"),
          call_function("extract_text",
            call_function("decode_html", col("html"), col("ct")), lit("p")).as("txt"))
        .orderBy("doc_id")
    }),

    // ---- 16g. URL tier (RFC 3986 over the link graph): extract_links
    //      resolves every a[href] against the page's effective base
    //      (first <base href> wins, itself resolved against the page
    //      URL) and normalizes to crawl identity; 6 variants cover
    //      path-relative + dot segments, <base href>, protocol-relative,
    //      query-only, absolute-with-default-port + fragment-only, RFC
    //      §5.4 abnormal refs, and entity-encoded hrefs; scalar columns
    //      pin url_host / url_domain / url_normalize / url_resolve ----
    QuerySpec("q_url_links",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d, " +
        "'https://ex' || CAST(doc_id AS VARCHAR) || '.example.com' AS h " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "CASE v " +
        "WHEN 0 THEN h || '/up.html|' || h || '/dir/sub/x.html' " +
        "WHEN 1 THEN 'https://cdn' || d || '.example.net/assets/img/i.png|' || " +
        "'https://cdn' || d || '.example.net/root.css' " +
        "WHEN 2 THEN 'https://other' || d || '.example.org/p|' || h || '/dir/page.html?x=' || d " +
        "WHEN 3 THEN 'https://www.example.com/A/B/~user|' || h || '/dir/page.html' " +
        "WHEN 4 THEN h || '/g|' || h || '/dir/y' " +
        "ELSE h || '/s?a=' || d || '&b=2|' || h || '/dir/g?y/./x' END AS links, " +
        "'ex' || d || '.example.com' AS p_host, " +
        "'team' || d || '.co.uk' AS p_dom, " +
        "'http://ex' || d || '.com/b%2F?x=A' AS p_norm, " +
        "'https://EX' || d || '.Example.COM/dir/g#s' AS res " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val pageUrl = s"https://EX$id.Example.COM/dir/page.html"
        val body = ((id % 6).toInt: @unchecked) match {
          case 0 => """<a href="../up.html">u</a><a href="sub/x.html">s</a>"""
          case 1 => s"""<base href="https://cdn$id.example.net/assets/">""" +
            """<a href="img/i.png">i</a><a href=" /root.css">r</a>"""
          case 2 => s"""<a href="//other$id.example.org/p">o</a><a href="?x=$id">q</a>"""
          case 3 => """<a href="HTTPS://WWW.Example.COM:443/A/./B/%7Euser">n</a>""" +
            """<a href="#frag">f</a>"""
          case 4 => """<a href="../../../g">g</a><a href="g;x=1/../y">y</a>"""
          case 5 => s"""<a href="/s?a=$id&amp;b=2">e</a><a href="g?y/./x">q</a>"""
        }
        (id, s"<p>$body</p>".getBytes(java.nio.charset.StandardCharsets.UTF_8), pageUrl)
      }.toDF("doc_id", "html", "page_url")
        .select(col("doc_id"),
          concat_ws("|", call_function("extract_links",
            col("html"), col("page_url"))).as("links"),
          call_function("url_host", col("page_url")).as("p_host"),
          call_function("url_domain",
            concat(lit("https://sub.team"), col("doc_id").cast("string"), lit(".co.uk/x"))).as("p_dom"),
          call_function("url_normalize",
            concat(lit("HTTP://Ex"), col("doc_id").cast("string"), lit(".COM:80/a/../b%2f?x=%41"))).as("p_norm"),
          call_function("url_resolve", col("page_url"), lit("g#s")).as("res"))
        .orderBy("doc_id")
    }),

    // ---- 16j. robots.txt evaluation (RFC 9309 — the fetch-side gate of
    //      every crawl): group selection by product-token prefix,
    //      longest-octet precedence with allow-wins ties, */$ patterns,
    //      Crawl-delay + Sitemap extensions; 5 variants ----
    QuerySpec("q_robots",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE v WHEN 1 THEN 1 ELSE 0 END AS INT) AS a1, " +
        "CAST(CASE v WHEN 1 THEN 0 ELSE 1 END AS INT) AS a2, " +
        "CAST(CASE v WHEN 4 THEN 2.5 ELSE -1.0 END AS DOUBLE) AS delay, " +
        "CASE v WHEN 4 THEN 'https://s' || d || '.ex/m1.xml|https://s' || d || '.ex/m2.xml' " +
        "ELSE '' END AS maps " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val (robots, p1, p2) = ((id % 5).toInt: @unchecked) match {
          case 0 => ("User-agent: *\nDisallow: /private/",
            s"/private/x$id", s"/pub/x$id")
          case 1 => ("User-agent: *\nDisallow: /a\nAllow: /a/b",
            s"/a/b/c$id", s"/a/z$id")
          case 2 => ("User-agent: *\nDisallow: /*.pdf$",
            s"/doc$id.pdf", s"/doc$id.pdfx")
          case 3 => ("User-agent: graftbot\nDisallow: /priv\nUser-agent: *\nDisallow: /",
            s"/priv/$id", s"/pub/$id")
          case 4 => ("User-agent: *\nCrawl-delay: 2.5\nDisallow: /a\n" +
            s"Sitemap: https://s$id.ex/m1.xml\nSitemap: https://s$id.ex/m2.xml",
            s"/a$id", s"/b$id")
        }
        (id, robots, "GraftBot/1.0 (+https://graft.example)", p1, p2)
      }.toDF("doc_id", "robots", "agent", "p1", "p2")
        .select(col("doc_id"),
          call_function("robots_allowed",
            col("robots"), col("agent"), col("p1")).cast("int").as("a1"),
          call_function("robots_allowed",
            col("robots"), col("agent"), col("p2")).cast("int").as("a2"),
          coalesce(call_function("robots_crawl_delay",
            col("robots"), col("agent")), lit(-1.0)).as("delay"),
          concat_ws("|", call_function("robots_sitemaps", col("robots"))).as("maps"))
        .orderBy("doc_id")
    }),

    // ---- 16k. sitemap parsing (sitemaps.org protocol 0.9): urlset /
    //      sitemapindex / plain-text bodies, gz variant, entity + CDATA
    //      + namespace-prefix locs, the location-scope rule, and a
    //      non-sitemap decoy exercising the NULL channel ----
    QuerySpec("q_sitemap",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents) " +
        "SELECT doc_id, " +
        "CASE v WHEN 0 THEN 'urlset' WHEN 1 THEN 'index' WHEN 2 THEN 'urlset' " +
        "WHEN 3 THEN 'text' WHEN 4 THEN 'urlset' ELSE '-' END AS kind, " +
        "CAST(CASE v WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 2 " +
        "WHEN 4 THEN 2 ELSE -1 END AS INT) AS n, " +
        "CASE v " +
        "WHEN 0 THEN 'https://s' || d || '.ex/c/a|https://s' || d || '.ex/c/b|https://s' || d || '.ex/other/x' " +
        "WHEN 1 THEN 'https://i' || d || '.ex/maps/m1.xml.gz|https://i' || d || '.ex/maps/m2.xml' " +
        "WHEN 2 THEN 'https://g' || d || '.ex/p1|https://g' || d || '.ex/p2' " +
        "WHEN 3 THEN 'https://t' || d || '.ex/one|http://t' || d || '.ex/two' " +
        "WHEN 4 THEN 'https://e' || d || '.ex/p?a=1&b=2|https://e' || d || '.ex/cd' " +
        "ELSE '-' END AS locs, " +
        "CASE v WHEN 0 THEN '2025-01-01|-|-' " +
        "WHEN 1 THEN '2024-12-31T23:59:59+00:00|-' " +
        "WHEN 2 THEN '-|-' WHEN 3 THEN '-|-' WHEN 4 THEN '-|-' ELSE '-' END AS lms, " +
        "CASE v WHEN 0 THEN 'daily|-|-' WHEN 1 THEN '-|-' WHEN 2 THEN '-|-' " +
        "WHEN 3 THEN '-|-' WHEN 4 THEN '-|-' ELSE '-' END AS frq, " +
        "CAST(CASE v WHEN 0 THEN 0.8 WHEN 1 THEN 0.0 WHEN 2 THEN 1.0 " +
        "WHEN 3 THEN 0.0 WHEN 4 THEN 0.9 ELSE -1.0 END AS DOUBLE) AS pr, " +
        "CAST(CASE v WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 1 " +
        "WHEN 4 THEN 2 ELSE -1 END AS INT) AS scope " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        def gz(txt: String): Array[Byte] = {
          val bo = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bo)
          g.write(txt.getBytes("UTF-8")); g.close()
          bo.toByteArray
        }
        val (body, smurl) = ((id % 6).toInt: @unchecked) match {
          case 0 => (("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            s"<url><loc>https://s$id.ex/c/a</loc><lastmod>2025-01-01</lastmod>" +
            "<changefreq>daily</changefreq><priority>0.8</priority></url>" +
            s"<url><loc>https://s$id.ex/c/b</loc></url>" +
            s"<url><loc>https://s$id.ex/other/x</loc></url></urlset>").getBytes("UTF-8"),
            s"https://s$id.ex/c/sitemap.xml")
          case 1 => (("<sitemapindex>" +
            s"<sitemap><loc>https://i$id.ex/maps/m1.xml.gz</loc>" +
            "<lastmod>2024-12-31T23:59:59+00:00</lastmod></sitemap>" +
            s"<sitemap><loc>https://i$id.ex/maps/m2.xml</loc></sitemap>" +
            "</sitemapindex>").getBytes("UTF-8"),
            s"https://i$id.ex/sitemap_index.xml")
          case 2 => (gz("<urlset>" +
            s"<url><loc>https://g$id.ex/p1</loc><priority>0.5</priority></url>" +
            s"<url><loc>https://g$id.ex/p2</loc><priority>0.5</priority></url>" +
            "</urlset>"), s"https://g$id.ex/sitemap.xml.gz")
          case 3 => ((s"https://t$id.ex/one\nnot a url line\n" +
            s"http://t$id.ex/two\n\n").getBytes("UTF-8"),
            s"https://t$id.ex/st.txt")
          case 4 => (("<sm:urlset xmlns:sm=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            s"<sm:url><sm:loc>https://e$id.ex/p?a=1&amp;b=2</sm:loc>" +
            "<sm:priority>0.9</sm:priority></sm:url>" +
            s"<url><loc><![CDATA[https://e$id.ex/cd]]></loc></url>" +
            "</sm:urlset>").getBytes("UTF-8"), s"https://e$id.ex/sitemap.xml")
          case 5 => (s"<html><body><a href=/x>not a sitemap $id</a></body></html>"
            .getBytes("UTF-8"), s"https://n$id.ex/sitemap.xml")
        }
        (id, body, smurl)
      }.toDF("doc_id", "body", "smurl")
        .selectExpr("doc_id", "smurl",
          "sitemap_kind(body) AS kind0", "sitemap_entries(body) AS es")
        .selectExpr("doc_id",
          "coalesce(kind0, '-') AS kind",
          "CAST(coalesce(size(es), -1) AS INT) AS n",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> e.loc))) AS locs",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> coalesce(e.lastmod, '-')))) AS lms",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> coalesce(e.changefreq, '-')))) AS frq",
          "IF(es IS NULL, CAST(-1.0 AS DOUBLE), " +
            "round(aggregate(es, CAST(0.0 AS DOUBLE), (a, e) -> a + coalesce(e.priority, CAST(0.0 AS DOUBLE))), 2)) AS pr",
          "CAST(IF(es IS NULL, -1, size(filter(es, e -> sitemap_in_scope(smurl, e.loc)))) AS INT) AS scope")
        .orderBy("doc_id")
    }),

    // ---- 16l. page metadata (the per-page header record every crawl
    //      keeps): title RCDATA rule, meta/OG/Twitter first-wins
    //      matching on name OR property, document lang, JSON-LD
    //      type-essence blocks; a no-metadata decoy for the null
    //      channels ----
    QuerySpec("q_meta",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents) " +
        "SELECT doc_id, " +
        "CASE v WHEN 0 THEN 'W&T ' || d WHEN 3 THEN 'A <i>B</i> ' || d " +
        "WHEN 4 THEN 'T4' ELSE '-' END AS title, " +
        "CASE v WHEN 0 THEN 'D ' || d WHEN 1 THEN 'first ' || d " +
        "WHEN 4 THEN 'late ' || d ELSE '-' END AS descr, " +
        "CASE v WHEN 1 THEN 'k' || d || ', k2' ELSE '-' END AS kw, " +
        "CASE v WHEN 0 THEN 'en' WHEN 4 THEN 'pt-BR' ELSE '-' END AS lang, " +
        "CASE v WHEN 0 THEN 'OT ' || d || '|https://m' || d || '.ex/p|-|-' " +
        "WHEN 1 THEN 'NT ' || d || '|-|-|-' " +
        "WHEN 3 THEN '-|-|https://i' || d || '.ex/im.png|article' " +
        "ELSE '-|-|-|-' END AS og, " +
        "CASE v WHEN 1 THEN 'summary_large_image' ELSE '-' END AS tw, " +
        "CAST(CASE v WHEN 0 THEN 1 WHEN 3 THEN 2 ELSE 0 END AS INT) AS nld, " +
        "CASE v WHEN 0 THEN '{\"@id\":' || d || '}' " +
        "WHEN 3 THEN '{\"a\":1}|{\"b\":' || d || '}' ELSE '' END AS ld " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val html = ((id % 5).toInt: @unchecked) match {
          case 0 => s"""<html lang="en"><head><title> W&amp;T  $id </title>""" +
            s"""<meta name="description" content="D $id">""" +
            s"""<meta property="og:title" content="OT $id">""" +
            s"""<meta property="og:url" content="https://m$id.ex/p">""" +
            s"""<script type="application/ld+json">{"@id":$id}</script>""" +
            "</head><body>x</body></html>"
          case 1 => s"""<head><META NAME="Keywords" CONTENT=" k$id, k2 ">""" +
            s"""<meta name="og:title" content="NT $id">""" +
            """<meta name="twitter:card" content="summary_large_image">""" +
            s"""<meta name="description" content="first $id">""" +
            """<meta name="description" content="second"></head>"""
          case 2 => s"<p>plain $id</p>"
          case 3 => s"<title>A <i>B</i> $id</title>" +
            s"""<meta property="og:image" content="https://i$id.ex/im.png">""" +
            """<meta property="og:type" content="article">""" +
            """<script type="application/ld+json">{"a":1}</script>""" +
            s"""<script type=" application/LD+JSON; charset=utf-8 ">{"b":$id}</script>""" +
            """<script type="text/javascript">no</script>"""
          case 4 => """<html LANG="pt-BR"><head>""" +
            """<meta http-equiv="refresh" content="0;url=/x">""" +
            """<meta name="description" content="">""" +
            s"""<meta name="description" content="late $id">""" +
            "<title>T4</title></head></html>"
        }
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("doc_id", "html")
        .selectExpr("doc_id", "extract_meta(html) AS m",
          "extract_title(html) AS t0", "extract_jsonld(html) AS ld0")
        .selectExpr("doc_id",
          "coalesce(t0, '-') AS title",
          "coalesce(m.description, '-') AS descr",
          "coalesce(m.keywords, '-') AS kw",
          "coalesce(m.lang, '-') AS lang",
          "concat_ws('|', coalesce(m.og_title, '-'), coalesce(m.og_url, '-'), " +
            "coalesce(m.og_image, '-'), coalesce(m.og_type, '-')) AS og",
          "coalesce(m.twitter_card, '-') AS tw",
          "CAST(coalesce(size(ld0), -1) AS INT) AS nld",
          "IF(ld0 IS NULL, '-', concat_ws('|', ld0)) AS ld")
        .orderBy("doc_id")
    }),

    // ---- 16m. web feeds (RSS 2.0 / RDF / Atom — the freshness channel
    //      of a crawl): field mapping per format, the Atom link-rel
    //      rule, published-over-updated, CDATA/entities, gz variant,
    //      and an HTML decoy for the NULL channel ----
    QuerySpec("q_feed",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents) " +
        "SELECT doc_id, " +
        "CASE v WHEN 0 THEN 'rss' WHEN 1 THEN 'atom' WHEN 2 THEN 'rdf' " +
        "WHEN 3 THEN 'rss' ELSE '-' END AS kind, " +
        "CASE v WHEN 0 THEN 'Chan ' || d WHEN 1 THEN 'AT ' || d " +
        "WHEN 2 THEN 'R ' || d ELSE '-' END AS ftitle, " +
        "CAST(CASE v WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 1 " +
        "WHEN 3 THEN 1 ELSE -1 END AS INT) AS n, " +
        "CASE v WHEN 0 THEN 'A ' || d || '|B & C' WHEN 1 THEN 'E1|E2' " +
        "WHEN 2 THEN 'X ' || d WHEN 3 THEN 'cd ' || d ELSE '-' END AS titles, " +
        "CASE v WHEN 0 THEN 'https://r' || d || '.ex/a|-' " +
        "WHEN 1 THEN 'https://a' || d || '.ex/e1|https://a' || d || '.ex/e2' " +
        "WHEN 2 THEN 'https://d' || d || '.ex/x' WHEN 3 THEN '-' ELSE '-' END AS links, " +
        "CASE v WHEN 0 THEN 'Mon, 01 Jan 2024 00:00:00 GMT|-' " +
        "WHEN 1 THEN '2024-02-02T00:00:00Z|2024-04-04T00:00:00Z' " +
        "WHEN 2 THEN '2024-05-05' WHEN 3 THEN '-' ELSE '-' END AS pubs, " +
        "CASE v WHEN 0 THEN 'g' || d || '|-' WHEN 1 THEN 'tag:e' || d || '|-' " +
        "WHEN 2 THEN '-' WHEN 3 THEN '-' ELSE '-' END AS ids " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        def gz(txt: String): Array[Byte] = {
          val bo = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bo)
          g.write(txt.getBytes("UTF-8")); g.close()
          bo.toByteArray
        }
        val body = ((id % 5).toInt: @unchecked) match {
          case 0 => (s"<rss version=\"2.0\"><channel><title>Chan $id</title>" +
            s"<link>https://r$id.ex/</link>" +
            s"<item><title>A $id</title><link>https://r$id.ex/a</link>" +
            "<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>" +
            s"<guid isPermaLink=\"false\">g$id</guid></item>" +
            "<item><title>B &amp; C</title></item>" +
            "</channel></rss>").getBytes("UTF-8")
          case 1 => (s"<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>AT $id</title>" +
            "<link href=\"https://self.ex/\" rel=\"self\"/>" +
            s"<entry><title>E1</title><link rel=\"self\" href=\"https://a$id.ex/e1.atom\"/>" +
            s"<link rel=\"alternate\" href=\"https://a$id.ex/e1\"/>" +
            s"<id>tag:e$id</id><published>2024-02-02T00:00:00Z</published>" +
            "<updated>2024-03-03T00:00:00Z</updated></entry>" +
            s"<entry><title>E2</title><link href=\"https://a$id.ex/e2\"/>" +
            "<updated>2024-04-04T00:00:00Z</updated></entry>" +
            "</feed>").getBytes("UTF-8")
          case 2 => ("<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" " +
            "xmlns:dc=\"http://purl.org/dc/elements/1.1/\">" +
            s"<channel rdf:about=\"https://d$id.ex/\"><title>R $id</title></channel>" +
            s"<item rdf:about=\"https://d$id.ex/x\"><title>X $id</title>" +
            s"<link>https://d$id.ex/x</link><dc:date>2024-05-05</dc:date></item>" +
            "</rdf:RDF>").getBytes("UTF-8")
          case 3 => gz("<rss><channel>" +
            s"<item><title><![CDATA[cd $id]]></title></item></channel></rss>")
          case 4 => s"<html><body><p>not a feed $id</p></body></html>".getBytes("UTF-8")
        }
        (id, body)
      }.toDF("doc_id", "body")
        .selectExpr("doc_id", "feed_kind(body) AS kind0",
          "feed_title(body) AS ft0", "feed_entries(body) AS es")
        .selectExpr("doc_id",
          "coalesce(kind0, '-') AS kind",
          "coalesce(ft0, '-') AS ftitle",
          "CAST(coalesce(size(es), -1) AS INT) AS n",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> coalesce(e.title, '-')))) AS titles",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> coalesce(e.link, '-')))) AS links",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> coalesce(e.published, '-')))) AS pubs",
          "IF(es IS NULL, '-', concat_ws('|', transform(es, e -> coalesce(e.id, '-')))) AS ids")
        .orderBy("doc_id")
    }),

    // ---- 16i. canonical + meta-refresh URLs (the dedup-cluster key and
    //      the client-side redirect edge): rel token-list matching,
    //      base-tag interplay, WHATWG refresh content grammar with
    //      quotes/case variants; decoy link/meta elements planted ----
    QuerySpec("q_url_meta",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents) " +
        "SELECT doc_id, " +
        "CASE v WHEN 0 THEN 'https://m' || d || '.ex.com/c/' || d " +
        "WHEN 1 THEN 'https://b' || d || '.ex.org/d/x' " +
        "ELSE '-' END AS canon, " +
        "CASE v WHEN 2 THEN 'https://m' || d || '.ex.com/next/' || d " +
        "ELSE '-' END AS refr " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val pageUrl = s"https://m$id.ex.com/p.html"
        val decoys = """<link rel="stylesheet" href="/s.css">""" +
          """<meta http-equiv="content-type" content="text/html">"""
        val body = ((id % 4).toInt: @unchecked) match {
          case 0 => s"""<link rel="canonical" href="/c/$id">"""
          case 1 => s"""<base href="https://b$id.ex.org/d/">""" +
            """<link rel="alternate Canonical" href="x">"""
          case 2 => s"""<meta http-equiv="Refresh" content="5; URL='/next/$id'">"""
          case 3 => ""
        }
        (id, s"<head>$decoys$body</head><body><p>t</p></body>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), pageUrl)
      }.toDF("doc_id", "html", "page_url")
        .select(col("doc_id"),
          coalesce(call_function("extract_canonical",
            col("html"), col("page_url")), lit("-")).as("canon"),
          coalesce(call_function("extract_refresh",
            col("html"), col("page_url")), lit("-")).as("refr"))
        .orderBy("doc_id")
    }),

    // ---- 16h. link-graph rollup (the frontier aggregation every crawl
    //      runs downstream of extract_links): per-page links explode,
    //      url_domain collapses subdomain variants (www/cdn) onto one
    //      registrable-domain key, and a hash-agg rollup counts
    //      out-degree per domain — partial aggregation map-side, one
    //      shuffle on the domain key ----
    QuerySpec("q_link_graph",
      "WITH l AS (" +
        "SELECT 'hub' || CAST(doc_id % 7 AS VARCHAR) || '.net' AS dom FROM documents " +
        "UNION ALL " +
        "SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' FROM documents) " +
        "SELECT dom, COUNT(*) AS cnt FROM l GROUP BY dom ORDER BY dom")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val page = s"https://site${id % 50}.com/p/$id"
        val sub = if (id % 2 == 0) "www" else "cdn"
        val html = s"""<a href="https://$sub.hub${id % 7}.net/t">h</a>""" +
          s"""<a href="/local/$id">l</a>"""
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8), page)
      }.toDF("doc_id", "html", "page_url")
        .select(explode(call_function("extract_links",
          col("html"), col("page_url"))).as("link"))
        .select(call_function("url_domain", col("link")).as("dom"))
        .groupBy("dom").agg(count(lit(1)).as("cnt"))
        .orderBy("dom")
    }),

    // ---- 16d. WARC source parsing (ISO 28500 — the container Common
    //      Crawl actually ships): real records with Content-Length
    //      framing + HTTP splitting, page bodies through the crawl-mode
    //      extraction; every column closed-form ----
    QuerySpec("q_warc", {
      def uri(p: Int) = s"'https://warc-' || CAST(doc_id AS VARCHAR) || '.example/p$p'"
      def txt(p: Int) = s"'w' || CAST(doc_id AS VARCHAR) || ' body $p'"
      "SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS n_pages, " +
        s"CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ${uri(0)} " +
        s"WHEN 1 THEN ${uri(0)} || ',' || ${uri(1)} " +
        s"ELSE ${uri(0)} || ',' || ${uri(1)} || ',' || ${uri(2)} END AS uris, " +
        s"CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ${txt(0)} " +
        s"WHEN 1 THEN ${txt(0)} || '|' || ${txt(1)} " +
        s"ELSE ${txt(0)} || '|' || ${txt(1)} || '|' || ${txt(2)} END AS texts " +
        "FROM documents ORDER BY doc_id"
    })((s, dir) =>
      graft.spark.WarcOps.warcTable(s, dir).orderBy("doc_id")),

    // ---- 16e. WARC FILE source (round 6): real multi-record .warc.gz
    //      files on disk, read back through the STREAMING record reader
    //      (bounded memory per task — the Common Crawl ingest shape), one
    //      row per page through crawl-profile extraction ----
    QuerySpec("q_warc_file",
      "WITH pg AS (SELECT doc_id, UNNEST(range(0, CAST(doc_id % 3 + 1 AS BIGINT))) AS p " +
        "FROM documents) " +
        "SELECT 'https://warc-' || CAST(doc_id AS VARCHAR) || '.example/p' || CAST(p AS VARCHAR) AS uri, " +
        "'w' || CAST(doc_id AS VARCHAR) || ' body ' || CAST(p AS VARCHAR) AS main_txt " +
        "FROM pg ORDER BY uri")((s, dir) =>
      graft.spark.WarcOps.warcFileTable(s, dir).orderBy("uri")),

    // ---- 16x. WET conversion sink/source (round 6): extract_main text
    //      -> conversion records (member-per-record gzip, deterministic
    //      urn:uuid ids, sha1 base32 digests) -> streamed read-back ----
    QuerySpec("q_wet",
      "SELECT 'https://wet-' || CAST(doc_id AS VARCHAR) || '.example/' AS uri, " +
        "'2025-01-01T00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS wet_date, " +
        "'wet ' || CAST(doc_id AS VARCHAR) || ' body' AS text " +
        "FROM documents ORDER BY uri")((s, dir) =>
      graft.spark.WetOps.wetTable(s, dir).orderBy("uri")),

    // ---- 16z. CDX capture index (round 6): exact gzip-member spans over
    //      the .warc.gz directory, then EVERY row re-read through its
    //      (filename, offset, length) random-access span — a one-byte
    //      offset error breaks the member inflate and reds the row ----
    QuerySpec("q_warc_cdx",
      "WITH pg AS (SELECT doc_id, UNNEST(range(0, CAST(doc_id % 3 + 1 AS BIGINT))) AS p " +
        "FROM documents) " +
        "SELECT 'example,warc-' || CAST(doc_id AS VARCHAR) || ')/p' || CAST(p AS VARCHAR) AS surt, " +
        "'202501010000' || lpad(CAST(p AS VARCHAR), 2, '0') AS ts, " +
        "'https://warc-' || CAST(doc_id AS VARCHAR) || '.example/p' || CAST(p AS VARCHAR) AS fetch_uri, " +
        "'text/html' AS mime, CAST(200 AS INT) AS status, " +
        "'part-' || lpad(CAST(doc_id // 16 AS VARCHAR), 5, '0') || '.warc.gz' AS filename, " +
        "sha256('<title>T' || CAST(doc_id AS VARCHAR) || '-' || CAST(p AS VARCHAR) || " +
        "'</title><nav>menu</nav><p>w' || CAST(doc_id AS VARCHAR) || ' body ' || " +
        "CAST(p AS VARCHAR) || '</p>') AS payload_sha256 " +
        "FROM pg ORDER BY surt, ts")((s, dir) =>
      graft.spark.CdxOps.cdxTableGate(s, dir)),

    // ---- 16n. WARC HTTP envelope (round 6): status code, redirect
    //      Location (absolute + relative), content-type, and a record
    //      with no HTTP framing at all (status stays null-channel -1) ----
    QuerySpec("q_warc_http",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents) " +
        "SELECT doc_id, " +
        "'https://h' || d || CASE v WHEN 0 THEN '.ex/ok' WHEN 1 THEN '.ex/old' " +
        "WHEN 2 THEN '.ex/tmp' ELSE '.ex/raw' END AS uri, " +
        "CAST(CASE v WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 302 " +
        "ELSE -1 END AS INT) AS status, " +
        "CASE v WHEN 1 THEN 'https://moved-' || d || '.ex/new' " +
        "WHEN 2 THEN '/next/' || d ELSE '-' END AS redirect, " +
        "CASE v WHEN 0 THEN 'text/html; charset=utf-8' WHEN 1 THEN 'text/html' " +
        "ELSE '-' END AS ctype, " +
        "CASE v WHEN 0 THEN '<p>ok ' || d || '</p>' WHEN 1 THEN '<p>moved</p>' " +
        "WHEN 2 THEN '' ELSE '<p>raw ' || d || '</p>' END AS body " +
        "FROM t ORDER BY doc_id")((s, dir) =>
      graft.spark.WarcOps.warcHttpTable(s, dir).orderBy("doc_id")),

    // ---- 16o. Redirect-chain resolution (round 6): bounded-hop
    //      iterative join over synthesized chains (lengths 1-4) plus
    //      2-cycles every 7th doc — exact-cap chains classify 'final',
    //      cycles exhaust the budget and classify 'capped' ----
    QuerySpec("q_redirects",
      "WITH RECURSIVE " +
        "ch AS (SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS len FROM documents WHERE doc_id % 7 <> 0), " +
        "cj AS (SELECT doc_id, UNNEST(range(0, len)) AS j FROM ch), " +
        "e AS (" +
        "SELECT 'https://r' || CAST(doc_id AS VARCHAR) || '.ex/' || CAST(j AS VARCHAR) AS src, " +
        "'https://r' || CAST(doc_id AS VARCHAR) || '.ex/' || CAST(j + 1 AS VARCHAR) AS dst FROM cj " +
        "UNION ALL " +
        "SELECT 'https://r' || CAST(doc_id AS VARCHAR) || '.ex/0', " +
        "'https://r' || CAST(doc_id AS VARCHAR) || '.ex/1' FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL " +
        "SELECT 'https://r' || CAST(doc_id AS VARCHAR) || '.ex/1', " +
        "'https://r' || CAST(doc_id AS VARCHAR) || '.ex/0' FROM documents WHERE doc_id % 7 = 0), " +
        "walk AS (" +
        "SELECT src, dst AS cur, 1 AS hops FROM e " +
        "UNION ALL " +
        "SELECT w.src, e.dst, w.hops + 1 FROM walk w JOIN e ON w.cur = e.src WHERE w.hops < 4) " +
        "SELECT src, cur AS final_url, CAST(hops AS INT) AS hops, " +
        "CASE WHEN cur IN (SELECT src FROM e) THEN 'capped' ELSE 'final' END AS terminal " +
        "FROM walk w " +
        "QUALIFY hops = max(hops) OVER (PARTITION BY src) " +
        "ORDER BY src")((s, dir) => {
      import s.implicits._
      val edges = docs(s, dir).select("doc_id").as[Long].flatMap { id =>
        def u(j: Long) = s"https://r$id.ex/$j"
        if (id % 7 == 0) Seq((u(0), u(1)), (u(1), u(0)))
        else (0L until (id % 4 + 1)).map(j => (u(j), u(j + 1)))
      }.toDF("src", "dst")
      graft.spark.CrawlGraphOps.resolveRedirects(edges, maxHops = 4)
        .orderBy("src")
    }),

    // ---- 16u. Anchor-text extraction (round 6): ARRAY<STRUCT<href,
    //      text>> — entity-decoded anchor text + resolve/normalize on
    //      the href, flattened deterministically for the oracle ----
    QuerySpec("q_anchors",
      "SELECT doc_id, " +
        "'https://hub' || CAST(doc_id % 5 AS VARCHAR) || '.ex/|hub & ' || " +
        "CAST(doc_id % 5 AS VARCHAR) || ';https://a' || CAST(doc_id AS VARCHAR) || " +
        "'.ex/p/x' || CAST(doc_id AS VARCHAR) || '.html| go now ' AS anchors " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val html = s"""<a href="https://hub${id % 5}.ex/">hub &amp; ${id % 5}</a>""" +
          s"""<a href="x$id.html"> go <b>now</b> </a>"""
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s"https://a$id.ex/p/q")
      }.toDF("doc_id", "html", "page_url")
        .select(col("doc_id"),
          concat_ws(";", transform(
            call_function("extract_anchors", col("html"), col("page_url")),
            a => concat(a.getField("href"), lit("|"), a.getField("text"))))
            .as("anchors"))
        .orderBy("doc_id")
    }),

    // ---- 16y. Density main-content extraction (round 6): selector-free
    //      block/link-density heuristic — nav/footer pruned by name, the
    //      link-heavy menu and the odd-id linky block dropped by the 1/3
    //      density gate, the short block by the 25-char gate ----
    QuerySpec("q_density",
      "SELECT doc_id, " +
        "'This is the article body ' || CAST(doc_id AS VARCHAR) || " +
        "' with enough characters to pass.' || chr(10) || " +
        "'Second content paragraph ' || CAST(doc_id % 7 AS VARCHAR) || " +
        "' also long enough to be kept.' AS main_txt " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val linky = if (id % 2 == 1)
          "<div><a>Click here to read more about our related offers today</a> now</div>"
        else ""
        val html = s"<html><head><title>D$id</title></head><body>" +
          """<nav><a href="/">Home</a> <a href="/a">About</a></nav>""" +
          """<div class="menu"><a>one</a> <a>two</a> <a>three</a></div>""" +
          s"<p>This is the article body $id with enough characters to pass.</p>" +
          linky +
          "<p>short</p>" +
          s"<div>Second content paragraph ${id % 7} also long enough to be kept.</div>" +
          "<footer>copyright 2025</footer></body></html>"
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("doc_id", "html")
        .select(col("doc_id"),
          call_function("extract_main_density", col("html")).as("main_txt"))
        .orderBy("doc_id")
    }),

    // ---- 16v. SURT canonical key (round 6): the CDX-index dedup /
    //      range-partition key — host-reversed, www-stripped, port kept
    //      when non-default, path lowercased, query bytewise-sorted ----
    QuerySpec("q_url_surt",
      "SELECT doc_id, " +
        "'com,example,site' || CAST(doc_id % 7 AS VARCHAR) || " +
        "CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END || " +
        "')/dir' || CAST(doc_id AS VARCHAR) || '/page?a=' || " +
        "CAST(doc_id AS VARCHAR) || '&b=' || CAST(doc_id % 3 AS VARCHAR) AS surt " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val port = if (id % 5 == 0) ":8080" else ""
        (id, s"https://WWW.Site${id % 7}.Example.COM$port/Dir$id/Page?b=${id % 3}&a=$id#frag")
      }.toDF("doc_id", "url")
        .select(col("doc_id"), call_function("url_surt", col("url")).as("surt"))
        .orderBy("doc_id")
    }),

    // ---- 16t. Dup-cluster composition (round 6): canonical edges
    //      (extract_canonical over real HTML) + redirect edges (3xx
    //      Location) → connected components = the dedup cluster key;
    //      pairs share a canonical target, every 5th doc adds a
    //      redirect alias (worst path 3 hops ≤ 4 iters) ----
    QuerySpec("q_dup_clusters",
      "WITH d AS (SELECT doc_id AS id FROM documents), " +
        "n AS (" +
        "SELECT 'https://p' || CAST(id AS VARCHAR) || '.ex/' AS node, " +
        "'https://p' || CAST(id - id % 2 AS VARCHAR) || '.ex/' AS comp FROM d " +
        "UNION ALL " +
        "SELECT DISTINCT 'https://t' || CAST(id // 2 AS VARCHAR) || '.ex/', " +
        "'https://p' || CAST(id - id % 2 AS VARCHAR) || '.ex/' FROM d " +
        "UNION ALL " +
        "SELECT 'https://q' || CAST(id AS VARCHAR) || '.ex/', " +
        "'https://p' || CAST(id - id % 2 AS VARCHAR) || '.ex/' FROM d WHERE id % 5 = 0) " +
        "SELECT node, comp FROM n ORDER BY node")((s, dir) => {
      import s.implicits._
      val pages = docs(s, dir).select("doc_id").as[Long].map { id =>
        val html = s"""<head><link rel="canonical" href="https://t${id / 2}.ex/"></head>"""
        (s"https://p$id.ex/", html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("page_url", "html")
      val canonEdges = pages.select(
        col("page_url").as("a"),
        call_function("extract_canonical", col("html"), col("page_url")).as("b"))
      val redirects = docs(s, dir).select("doc_id").as[Long]
        .filter(_ % 5 == 0).map { id =>
          (s"https://q$id.ex/", Integer.valueOf(301), s"https://p$id.ex/")
        }.toDF("uri", "http_status", "redirect")
      val edges = canonEdges
        .unionByName(graft.spark.CrawlGraphOps.redirectEdges(redirects)
          .select(col("src").as("a"), col("dst").as("b")))
      graft.spark.CrawlGraphOps.connectedComponents(edges, maxIters = 4)
        .orderBy("node")
    }),

    // ---- 16s. Payload digest (round 6): sha-256 of the page bytes AFTER
    //      the full WARC parse + HTTP split — a one-byte framing error
    //      anywhere flips the hash, and DuckDB recomputes it from the
    //      closed-form bodies; n_dup pins digest-as-exact-dedup-key ----
    QuerySpec("q_warc_digest",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d FROM documents), " +
        "b AS (SELECT doc_id, CASE v WHEN 0 THEN '<p>ok ' || d || '</p>' " +
        "WHEN 1 THEN '<p>moved</p>' WHEN 2 THEN '' " +
        "ELSE '<p>raw ' || d || '</p>' END AS body FROM t) " +
        "SELECT doc_id, sha256(body) AS digest, " +
        "CAST(COUNT(*) OVER (PARTITION BY body) AS BIGINT) AS n_dup " +
        "FROM b ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window.partitionBy("digest")
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val pg = graft.spark.WarcOps.parseWarc(graft.spark.WarcOps.synthWarcHttp(id)).head
        (id, if (pg.html == null) Array.empty[Byte] else pg.html)
      }.toDF("doc_id", "html")
        .select(col("doc_id"), sha2(col("html"), 256).as("digest"))
        .withColumn("n_dup", count(lit(1)).over(w))
        .orderBy("doc_id")
    }),

    // ---- 16r. Connected components (round 6): dedup-cluster labeling
    //      by min-label propagation over star/chain/cycle groups of 4
    //      docs, plus cross-group bridges every 5th group (worst
    //      eccentricity 6 ≤ 8 iters) ----
    QuerySpec("q_components",
      "WITH RECURSIVE " +
        "d AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS k FROM documents), " +
        "e0 AS (" +
        "SELECT CASE WHEN g % 3 = 0 THEN g * 4 ELSE id - 1 END AS a, id AS b FROM d WHERE k > 0 " +
        "UNION ALL SELECT id, g * 4 FROM d WHERE g % 3 = 2 AND k = 3 " +
        "UNION ALL SELECT g * 4, g * 4 - 1 FROM d WHERE g % 5 = 4 AND k = 0 AND g > 0), " +
        "e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
        "reach AS (" +
        "SELECT a AS node, a AS peer FROM e " +
        "UNION " +
        "SELECT r.node, e.b FROM reach r JOIN e ON r.peer = e.a) " +
        "SELECT node, CAST(min(peer) AS BIGINT) AS comp FROM reach " +
        "GROUP BY node ORDER BY node")((s, dir) => {
      import s.implicits._
      val edges = docs(s, dir).select("doc_id").as[Long].flatMap { id =>
        val g = id / 4
        val k = id % 4
        val within =
          if (k > 0) Seq(((if (g % 3 == 0) g * 4 else id - 1), id)) else Seq.empty
        val close = if (g % 3 == 2 && k == 3) Seq((id, g * 4)) else Seq.empty
        val bridge = if (g % 5 == 4 && k == 0 && g > 0) Seq((g * 4, g * 4 - 1)) else Seq.empty
        within ++ close ++ bridge
      }.toDF("a", "b")
      graft.spark.CrawlGraphOps.connectedComponents(edges, maxIters = 8)
        .orderBy("node")
    }),

    // ---- 16q. HTTP caching tier (round 6): RFC 9111 shared-cache
    //      freshness (max-age/Age, no-store, s-maxage precedence,
    //      Expires−Date, Last-Modified 10% heuristic) + RFC 9110
    //      http_date over all three formats, via the WARC headers map ----
    QuerySpec("q_http_cache",
      "WITH t AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS v FROM documents) " +
        "SELECT doc_id, " +
        "CAST(CASE v WHEN 0 THEN 3600 + doc_id % 100 - doc_id % 50 " +
        "WHEN 1 THEN 0 WHEN 2 THEN 600 WHEN 3 THEN 7200 " +
        "WHEN 4 THEN 267840 ELSE -1 END AS BIGINT) AS fresh, " +
        "CAST(CASE WHEN v IN (3, 4) THEN 1740787200 ELSE -1 END AS BIGINT) AS lm_epoch, " +
        "CASE v WHEN 0 THEN '\"e' || CAST(doc_id AS VARCHAR) || '\"' ELSE '-' END AS etag " +
        "FROM t ORDER BY doc_id")((s, dir) =>
      graft.spark.WarcOps.warcCacheTable(s, dir).orderBy("doc_id")),

    // ---- 16p. Crawl-frontier step (round 6): the tier composition —
    //      extract_links → url_normalize identity → seen anti-join →
    //      RFC 9309 robots gate (host with no robots.txt = allowed) →
    //      per-host politeness cap (8, bites at every SF) ----
    QuerySpec("q_frontier",
      "WITH d AS (SELECT doc_id, CAST(doc_id % 10 AS INT) AS h, " +
        "CAST(doc_id AS VARCHAR) AS i FROM documents), " +
        "cand AS (" +
        "SELECT h AS hh, 'https://s' || CAST(h AS VARCHAR) || '.ex/keep/' || i AS url " +
        "FROM d WHERE h % 3 <> 1 " +
        "UNION ALL " +
        "SELECT h, 'https://s' || CAST(h AS VARCHAR) || '.ex/private/' || i " +
        "FROM d WHERE h % 3 <> 0 " +
        "UNION ALL " +
        "SELECT CAST((h+1)%10 AS INT), " +
        "'https://s' || CAST((h+1)%10 AS VARCHAR) || '.ex/keep/x' || i " +
        "FROM d WHERE ((h+1)%10) % 3 <> 1) " +
        "SELECT 's' || CAST(hh AS VARCHAR) || '.ex' AS host, url " +
        "FROM (SELECT DISTINCT hh, url FROM cand) " +
        "QUALIFY row_number() OVER (PARTITION BY hh ORDER BY url) <= 8 " +
        "ORDER BY url")((s, dir) => {
      import s.implicits._
      val pages = docs(s, dir).select("doc_id").as[Long].map { id =>
        val h = id % 10
        val html = s"""<a href="/keep/$id">k</a><a href="/private/$id">p</a>""" +
          s"""<a href="https://s${(h + 1) % 10}.ex/keep/x$id">c</a>""" +
          s"""<a href="/p/$id">self</a>"""
        (html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s"https://s$h.ex/p/$id")
      }.toDF("html", "page_url")
      val seen = pages.select(col("page_url").as("url"))
      val robots = s.range(10).where(col("id") % 3 =!= 2)
        .select(concat(lit("s"), col("id"), lit(".ex")).as("host"),
          when(col("id") % 3 === 0, "User-agent: *\nDisallow: /private/")
            .otherwise("User-agent: *\nDisallow: /keep").as("robots_txt"))
      graft.spark.CrawlGraphOps
        .frontier(pages, robots, "graftbot", seen, maxPerHost = 8)
        .orderBy("url")
    }),

    // ---- 17. closure/membership set ops + clone isolation + texts
    //      filters: filterIn/notIn/isBy/isIn/isAllIn/hasIn/map/containsEle/
    //      deepClone/htmls/textsBy/textsByRec + :submit/:only-of-type ----
    QuerySpec("q_set_ops",
      "WITH t AS (SELECT doc_id, (doc_id % 5) + 2 AS k, doc_id % 6 AS m FROM documents) " +
        "SELECT doc_id, CAST(1 AS BIGINT) AS n_submit, CAST(1 AS BIGINT) AS n_oot, " +
        "CAST(1 AS BIGINT) AS n_fin, CAST(k - 1 AS BIGINT) AS n_nin, " +
        "CAST(4 AS BIGINT) AS n_bools, CAST(1 AS BIGINT) AS n_hasin, " +
        "CAST(k * (k - 1) / 2 AS BIGINT) AS n_map, 'x0' AS t_first, " +
        "concat('<em>solo</em>t', CAST(m AS VARCHAR)) AS h_p, " +
        "CAST(2 AS BIGINT) AS n_texts0, CAST(1 AS BIGINT) AS n_tby " +
        "FROM t ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val k = (id % 5) + 2
        val m = id % 6
        val html = "<html><body><form><input type=\"submit\" />" +
          "<button type=\"button\">b</button></form><ul>" +
          (0L until k).map(i =>
            s"""<li${if (i == 0) " class=\"a\"" else ""}>x$i</li>""").mkString +
          s"</ul><p><em>solo</em>t$m</p></body></html>"
        val root = Vis.loadOrThrow(html)
        val lis = root.find("li")
        val setA = lis.filter(".a")
        val clone = root.find("ul").deepClone()
        clone.find("li").setText("zz")
        val bools =
          (if (lis.isBy((i, _) => i == 0)) 1L else 0L) +
            (if (setA.isAllIn(lis)) 1L else 0L) +
            (if (lis.first().isIn(lis)) 1L else 0L) +
            (if (root.find("ul").containsEle(lis.ids(0),
              graft.selector.Combinator.Children)) 1L else 0L)
        (id,
          root.find(":submit").length.toLong,
          root.find("em:only-of-type").length.toLong,
          lis.filterIn(setA).length.toLong,
          lis.notIn(setA).length.toLong,
          bools,
          root.find("ul").hasIn(setA).length.toLong,
          lis.map((i, _) => i.toLong).sum,
          lis.first().text(),
          root.find("p").htmls(),
          root.find("p").texts(0).length.toLong,
          root.find("p").textsBy(0, (d, _) => d == 0).length.toLong)
      }.toDF("doc_id", "n_submit", "n_oot", "n_fin", "n_nin", "n_bools",
        "n_hasin", "n_map", "t_first", "h_p", "n_texts0", "n_tby")
        .orderBy("doc_id")
    }),

    // ---- 18. SQL surface: extract_attrs / extract_count / extract_text
    //      as Catalyst functions over a binary html column ----
    QuerySpec("q_sql_surface",
      "SELECT doc_id, " +
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '/p/0' WHEN 1 THEN '/p/0,/p/1' " +
        "WHEN 2 THEN '/p/0,/p/1,/p/2' ELSE '/p/0,/p/1,/p/2,/p/3' END AS hrefs, " +
        "CAST((doc_id % 3) + 1 AS BIGINT) AS n_li, " +
        "concat('x', CAST(doc_id % 4 AS VARCHAR)) AS last_a " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val m = (id % 4).toInt
        val html = "<nav>" +
          (0 to m).map(i => s"""<a href="/p/$i">x$i</a>""").mkString +
          "</nav><ul>" + "<li>y</li>" * ((id % 3).toInt + 1) + "</ul>"
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("doc_id", "html")
        .select(col("doc_id"),
          concat_ws(",", call_function("extract_attrs",
            col("html"), lit("a"), lit("href"))).as("hrefs"),
          call_function("extract_count", col("html"), lit("li")).as("n_li"),
          call_function("extract_text", col("html"), lit("nav a:last-child")).as("last_a"))
        .orderBy("doc_id")
    }),

    // ---- 18b. extract_html SQL surface: outerHtml snippets per match over
    //      a BINARY column, quote style and attr order preserved in the
    //      re-render — the oracle rebuilds the snippets closed-form ----
    QuerySpec("q_sql_html",
      "SELECT doc_id, rtrim(repeat('<li data-k=''v' || CAST(doc_id % 5 AS VARCHAR) || " +
        "'''>x</li>|', CAST(doc_id % 7 + 1 AS INT)), '|') AS snippets " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        val item = s"<li data-k='v${id % 5}'>x</li>"
        val html = "<ul>" + item * ((id % 7).toInt + 1) + "</ul>"
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("doc_id", "html")
        .select(col("doc_id"),
          concat_ws("|", call_function("extract_html", col("html"), lit("li"))).as("snippets"))
        .orderBy("doc_id")
    }),

    // ---- 19. multimodal binary columns: stub decode -> typed metadata,
    //      real histogram features, deterministic frame sampling ----
    QuerySpec("q_media",
      "SELECT doc_id AS media_id, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(16 + (doc_id % 7) * 16 AS INT) AS width, " +
        "CAST(16 + (doc_id % 5) * 16 AS INT) AS height, " +
        "CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 8000 + (doc_id % 4) * 8000 END AS INT) AS sample_rate, " +
        "CAST((doc_id % 251) // 16 AS BIGINT) AS dominant_bin, " +
        "CAST(16 AS INT) AS n_feat, " +
        "CAST(CASE WHEN doc_id % 3 = 2 THEN LEAST(4, 1 + doc_id % 24) ELSE 1 END AS INT) AS sampled_frames " +
        "FROM documents ORDER BY media_id")((s, dir) => {
      import graft.spark.MediaOps
      MediaOps.extractFeatures(s, MediaOps.mediaTable(s, dir))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("sample_rate"), col("dominant_bin"),
          size(col("features")).as("n_feat"), col("sampled_frames"))
        .orderBy("media_id")
    }),

    // ---- 19b. REAL container formats through the same decode slot: true
    //      BMP / WAV / AVI / PNG / JPEG bytes parsed by pure-JVM container
    //      parsers (AVI frames located by the movi chunk walk — true
    //      per-frame offsets; PNG IHDR + IDAT span; JPEG SOF dims + scan
    //      span), histogram over the actual payload bytes ----
    QuerySpec("q_media_real",
      "WITH f AS (SELECT doc_id, CAST(((doc_id * 37 + 11) % 101) % 7 AS INT) AS fmt, " +
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 25 ELSE 50 END AS fps " +
        "FROM documents) " +
        "SELECT doc_id AS media_id, " +
        "CASE WHEN fmt IN (1, 5) THEN 'audio' WHEN fmt IN (2, 6) THEN 'video' ELSE 'image' END AS kind, " +
        "CAST(CASE WHEN fmt IN (1, 5) THEN 0 ELSE 16 + (doc_id % 7) * 16 END AS BIGINT) AS width, " +
        "CAST(CASE WHEN fmt IN (1, 5) THEN 0 ELSE 16 + (doc_id % 5) * 16 END AS BIGINT) AS height, " +
        "CAST(CASE WHEN fmt = 1 THEN 8000 + (doc_id % 4) * 8000 " +
        "WHEN fmt = 5 THEN CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END " +
        "WHEN fmt IN (2, 6) THEN fps ELSE 0 END AS BIGINT) AS sample_rate, " +
        "CAST(CASE WHEN fmt = 1 THEN 64 + (doc_id % 17) * 16 " +
        "WHEN fmt = 5 THEN 16 + (doc_id % 17) " +
        "WHEN fmt IN (2, 6) THEN 1 + (doc_id % 24) ELSE 1 END AS BIGINT) AS frames, " +
        "CAST((doc_id % 251) // 16 AS BIGINT) AS dom_bin " +
        "FROM f ORDER BY media_id")((s, dir) =>
      graft.spark.MediaOps.realMediaFeatures(s, dir).orderBy("media_id")),

    // ---- 19c. PDF text/layout extraction (north rule "PDF/layout parse"):
    //      real synthesized PDFs (xref/trailer, Flate or raw streams),
    //      pure-JVM extraction with layout ordering, escapes, TJ arrays;
    //      the oracle recomputes the expected text closed-form ----
    QuerySpec("q_pdf_extract", PdfOracle)((s, dir) =>
      graft.spark.PdfOps.pdfTable(s, dir).orderBy("doc_id")),

    // ---- 20. SQL extract_main byte-identity over the synthesized pages:
    //      the whole-stage-codegen path must equal the oracle text column
    //      on every row ----
    // the SQL/codegen surface emits the extracted text itself, row by row;
    // the DuckDB oracle is the documents.text column — a genuine
    // cross-engine byte-identity check (nothing self-graded: any
    // divergence of the whole-stage-codegen path hash-mismatches)
    QuerySpec("q_sql_extract",
      "SELECT doc_id, CASE WHEN text IS NULL THEN '' ELSE text END AS extracted " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      val pages = PagesGen.asDataFrame(s, dir)
      pages
        .select(
          expr("CAST(regexp_extract(url, '/([0-9]+)$', 1) AS BIGINT)").as("doc_id"),
          call_function("extract_main", col("html")).as("extracted"))
        .orderBy("doc_id")
    }),

    // ---- corpus-level relational ops (Catalyst built-ins) ----
    QuerySpec("q_rollup_lang",
      "SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS chars " +
        "FROM documents GROUP BY lang ORDER BY lang")((s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")),

    // exact-dedup summary: 8-byte-hash shuffle key, countDistinct verify
    // within hash groups (never shuffles full text as the key)
    QuerySpec("q_dedup_exact",
      "SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_texts, " +
        "CAST(COUNT(*) AS BIGINT) AS total_docs FROM documents")((s, dir) =>
      TextOps.dedupExactSummary(docs(s, dir))),

    QuerySpec("q_token_count",
      "SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
        "ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS token_count, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_count " +
        "FROM documents ORDER BY doc_id")((s, dir) =>
      TextOps.tokenCount(docs(s, dir)).orderBy("doc_id")),

    QuerySpec("q_quality",
      "SELECT doc_id, " +
        "CAST(length(text) - length(regexp_replace(text, '[.!?,]', '', 'g')) AS BIGINT) AS punct_count, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
        "ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / " +
        "array_length(regexp_split_to_array(trim(text), '\\s+')) END AS mean_token_len, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
        "ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), " +
        "x -> x IN ('" + TextOps.Stopwords.mkString("','") + "'))) AS DOUBLE) / " +
        "array_length(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS stopword_ratio " +
        "FROM documents ORDER BY doc_id")((s, dir) =>
      TextOps.qualityScore(spread(s, docs(s, dir))).orderBy("doc_id")),

    // ---- 16ai. Paragraph-granularity fuzzy dedup (round 6): SimHash at
    //      the paragraph unit over the planted fp corpus in BOTH slots
    //      (slot 1 shifted by an id offset that preserves the pair
    //      pattern) — near-dup paragraph pairs, closed-form expected ----
    QuerySpec("q_dedup_para_fuzzy",
      "WITH p AS (SELECT doc_id AS d FROM documents WHERE doc_id % 2 = 0 " +
        "AND (doc_id // 2) % 2 = 0 AND EXISTS (SELECT 1 FROM documents d2 " +
        "WHERE d2.doc_id = documents.doc_id + 1)), " +
        "u AS (SELECT d, unnest([0, 1]) AS idx FROM p) " +
        "SELECT d AS left_doc, CAST(idx AS INT) AS left_idx, " +
        "d + 1 AS right_doc, CAST(idx AS INT) AS right_idx " +
        "FROM u ORDER BY left_doc, left_idx")((s, dir) => {
      import s.implicits._
      val C = 1L << 22 // multiple of 4: preserves fpText's pair pattern
      val synth = docs(s, dir).select(col("doc_id").as[Long])
        .map(id => (id, graft.spark.TextFixtures.fpText(id) + "\n\n" +
          graft.spark.TextFixtures.fpText(id + C)))
        .toDF("doc_id", "text")
      TextOps.paragraphSimhashPairs(s, synth)
        .orderBy("left_doc", "left_idx")
    }),

    // ---- 16ah. Cleanup composition (round 6): crawl HTML -> boilerplate
    //      strip (extract_main_crawl) -> mojibake repair (fix_text) ->
    //      PII redaction (scrub_pii), one codegen'd column chain — the
    //      per-row spine of the training-data pipeline ----
    QuerySpec("q_pipeline",
      "SELECT doc_id, 'see café item ' || CAST(doc_id AS VARCHAR) || " +
        "' call |||PHONE||| or |||IP||| now' AS clean_txt " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select("doc_id").as[Long].map { id =>
        (id, "<title>skip</title><nav>menu</nav>" +
          s"<p>see cafÃ© item $id </p>" +
          s"<p>call +1 (555) 123-4567 or 10.0.0.${id % 256} now</p>" +
          "<footer>f</footer>")
      }.toDF("doc_id", "html")
        .select(col("doc_id"),
          call_function("scrub_pii", call_function("fix_text",
            call_function("extract_main_crawl", col("html")))).as("clean_txt"))
        .orderBy("doc_id")
    }),

    // ---- 16ao. PageRank (round 6): power iteration with dangling-mass
    //      redistribution over a 10-node derived graph + one dangling
    //      sink; DuckDB re-derives all 8 iterations via mechanically
    //      unrolled CTEs sharing the same constants ----
    QuerySpec("q_pagerank", {
      // the oracle unrolls the same 8 power iterations as CTE stages,
      // sharing damping/iteration constants with the Spark op
      val d = 0.85
      val base =
        "WITH e AS (SELECT DISTINCT 'n' || CAST(doc_id % 10 AS VARCHAR) AS src, " +
          "'n' || CAST((doc_id * 3 + 1) % 10 AS VARCHAR) AS dst FROM documents " +
          "UNION SELECT DISTINCT 'n0', 'dang' FROM documents WHERE doc_id % 10 = 0), " +
          "nodes AS (SELECT DISTINCT node FROM " +
          "(SELECT src AS node FROM e UNION SELECT dst FROM e)), " +
          "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
          "deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg " +
          "FROM e GROUP BY src), " +
          "p0 AS (SELECT node, (SELECT 1.0 / n FROM nn) AS pr FROM nodes)"
      val iters = (1 to 8).map { i =>
        val p = s"p${i - 1}"
        s"g$i AS (SELECT COALESCE(SUM($p.pr), 0) AS dm FROM $p " +
          s"LEFT JOIN deg ON $p.node = deg.node WHERE deg.outdeg IS NULL), " +
          s"c$i AS (SELECT e.dst AS node, SUM($p.pr / deg.outdeg) AS c " +
          s"FROM e JOIN $p ON e.src = $p.node JOIN deg ON deg.node = e.src " +
          "GROUP BY e.dst), " +
          s"p$i AS (SELECT nodes.node, ${1 - d} / (SELECT n FROM nn) + $d * " +
          s"(COALESCE(c$i.c, 0) + (SELECT dm FROM g$i) / (SELECT n FROM nn)) AS pr " +
          s"FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)"
      }.mkString(", ")
      base + ", " + iters + " SELECT node, pr FROM p8 ORDER BY node"
    })((s, dir) => {
      val id = col("doc_id")
      val edges = docs(s, dir).select(
        concat(lit("n"), (id % 10).cast("string")).as("src"),
        concat(lit("n"), ((id * 3 + 1) % 10).cast("string")).as("dst"))
        .unionByName(docs(s, dir).filter(id % 10 === 0)
          .select(lit("n0").as("src"), lit("dang").as("dst")))
      graft.spark.CrawlGraphOps.pageRank(edges).orderBy("node")
    }),

    // ---- 16an. BPE apply/round-trip (round 6): token counts under the
    //      gate-80 trained merges — low=1, lower=4, newest=1, widest=3
    //      tokens, so a doc of r reps counts 9r ----
    QuerySpec("q_bpe_segment",
      "SELECT doc_id, CAST(9 * (doc_id % 3 + 1) AS BIGINT) AS bpe_tokens " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      val corpus = "low low low low low lower lower " +
        "newest newest newest newest newest newest widest widest widest"
      val merges = TextOps.bpeTrain(s,
        docs(s, dir).select(lit(corpus).as("text")), numMerges = 10)
      val varied = docs(s, dir).select(col("doc_id"),
        repeat(lit("low lower newest widest "),
          (col("doc_id") % 3 + 1).cast("int")).as("text"))
      TextOps.bpeTokenCount(s, varied, merges).orderBy("doc_id")
    }),

    // ---- 16am. Distributed BPE merge training (round 6): the classic
    //      low/lower/newest/widest corpus planted per doc — the merge
    //      SEQUENCE is invariant to corpus size (argmax scales), the
    //      pair counts scale with it; 10 merges, deterministic ties ----
    QuerySpec("q_bpe",
      "WITH n AS (SELECT count(*) AS n FROM documents), " +
        "m(rank, l, r, base) AS (VALUES " +
        "(1, 'e', 's', 9), (2, 'es', 't', 9), (3, 'est', '</w>', 9), " +
        "(4, 'l', 'o', 7), (5, 'lo', 'w', 7), (6, 'e', 'w', 6), " +
        "(7, 'ew', 'est</w>', 6), (8, 'n', 'ewest</w>', 6), " +
        "(9, 'low', '</w>', 5), (10, 'd', 'est</w>', 3)) " +
        "SELECT CAST(rank AS INT) AS rank, l AS \"left\", r AS \"right\", " +
        "CAST(base * n.n AS BIGINT) AS pair_count FROM m, n ORDER BY rank")((s, dir) => {
      val corpus = "low low low low low lower lower " +
        "newest newest newest newest newest newest widest widest widest"
      TextOps.bpeTrain(s,
        docs(s, dir).select(lit(corpus).as("text")), numMerges = 10)
        .orderBy("rank")
    }),

    // ---- 16al. Domain blocklist (round 6): suffix-explode equi-join,
    //      exact + subdomain matches, longest-entry wins, clean hosts
    //      pass ----
    QuerySpec("q_blocklist",
      "WITH t AS (SELECT doc_id AS id, CAST(doc_id % 4 AS INT) AS v, " +
        "CAST(doc_id AS VARCHAR) AS d, CAST(doc_id % 2 AS VARCHAR) AS p FROM documents) " +
        "SELECT CASE v WHEN 0 THEN 'https://sub.site' || p || '.example.com/p' || d " +
        "WHEN 1 THEN 'https://site0.example.com/p' || d " +
        "WHEN 2 THEN 'https://goodsite' || d || '.org/p' || d " +
        "ELSE 'https://x.bad.net/p' || d END AS url, " +
        "(v <> 2) AS blocked, " +
        "CASE v WHEN 0 THEN (CASE p WHEN '0' THEN 'site0.example.com' ELSE 'example.com' END) " +
        "WHEN 1 THEN 'site0.example.com' WHEN 3 THEN 'bad.net' ELSE '-' END AS matched_domain " +
        "FROM t ORDER BY url")((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val url = when(id % 4 === 0,
        concat(lit("https://sub.site"), (id % 2).cast("string"),
          lit(".example.com/p"), id.cast("string")))
        .when(id % 4 === 1,
          concat(lit("https://site0.example.com/p"), id.cast("string")))
        .when(id % 4 === 2,
          concat(lit("https://goodsite"), id.cast("string"), lit(".org/p"), id.cast("string")))
        .otherwise(concat(lit("https://x.bad.net/p"), id.cast("string")))
      val block = Seq("site0.example.com", "example.com", "bad.net").toDF("domain")
      graft.spark.CrawlGraphOps.domainBlocked(
        docs(s, dir).select(url.as("url")), block)
        .select(col("url"), col("blocked"),
          coalesce(col("matched_domain"), lit("-")).as("matched_domain"))
        .orderBy("url")
    }),

    // ---- 16ak. Corpus-trained bigram LM scoring (round 6, the CCNet
    //      quality dimension): add-1-smoothed mean transition
    //      log-likelihood over the REAL documents.text corpus, trained
    //      and scored in one relational DAG; DuckDB re-derives counts,
    //      vocab, and every log term ----
    QuerySpec("q_lm_score",
      "WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), " +
        "'\\s+'), x -> x <> '') AS ws FROM documents), " +
        "b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM " +
        "(SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)), " +
        "bc AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY w1, w2), " +
        "u AS (SELECT w1, count(*) AS cu FROM " +
        "(SELECT unnest(ws) AS w1 FROM w) GROUP BY w1), " +
        "v AS (SELECT count(*) AS v FROM u), " +
        "s AS (SELECT b.doc_id, ln((bc.cb + 1.0) / (u.cu + 1.0 * v.v)) AS ll " +
        "FROM b JOIN bc USING (w1, w2) JOIN u USING (w1) CROSS JOIN v), " +
        "r AS (SELECT doc_id, avg(ll) AS lm_score FROM s GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(r.lm_score, 0.0) AS lm_score " +
        "FROM documents d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id")((s, dir) =>
      TextOps.bigramLmScore(docs(s, dir)).orderBy("doc_id")),

    // ---- 16aj. Luhn card redaction (round 6): 13-19-digit candidates
    //      with space/dash groups pass only on the ISO 7812 checksum —
    //      valid Visa/MC/Amex shapes redact, a one-digit-off twin and
    //      short digit runs stay ----
    QuerySpec("q_scrub_cards",
      "SELECT doc_id, CASE CAST(doc_id % 5 AS INT) " +
        "WHEN 0 THEN 'pay |||CARD||| now' " +
        "WHEN 1 THEN 'pay |||CARD||| today' " +
        "WHEN 2 THEN 'ref 4111111111111112 kept' " +
        "WHEN 3 THEN 'amex |||CARD||| or mc |||CARD||| ok' " +
        "ELSE 'ver 1.2 build 12345 clean' END AS scrubbed, " +
        "text AS scrubbed_real FROM documents ORDER BY doc_id")((s, dir) => {
      val planted = element_at(array(
        lit("pay 4111111111111111 now"),
        lit("pay 4111 1111 1111 1111 today"),
        lit("ref 4111111111111112 kept"),
        lit("amex 378282246310005 or mc 5500-0000-0000-0004 ok"),
        lit("ver 1.2 build 12345 clean")),
        (col("doc_id") % 5 + 1).cast("int"))
      docs(s, dir).select(col("doc_id"),
        call_function("scrub_cards", planted).as("scrubbed"),
        call_function("scrub_cards", col("text")).as("scrubbed_real"))
        .orderBy("doc_id")
    }),

    // ---- 16ag. PII scrubbing (round 6): email/IPv4/phone redaction,
    //      same pattern strings run under Java regex here and RE2 in the
    //      oracle — planted shapes + real-text passthrough leg ----
    QuerySpec("q_scrub_pii", {
      def scrub(c: String): String =
        s"regexp_replace(regexp_replace(regexp_replace($c, " +
          s"'${graft.spark.TextNorm.EmailPattern}', '|||EMAIL|||', 'g'), " +
          s"'${graft.spark.TextNorm.Ipv4Pattern}', '|||IP|||', 'g'), " +
          s"'${graft.spark.TextNorm.PhonePattern}', '|||PHONE|||', 'g')"
      "WITH p AS (SELECT doc_id, CASE CAST(doc_id % 5 AS INT) " +
        "WHEN 0 THEN 'contact john.doe+spam@example.co.uk thanks' " +
        "WHEN 1 THEN 'server at 192.168.1.100 responded' " +
        "WHEN 2 THEN 'call +1 (555) 123-4567 now' " +
        "WHEN 3 THEN 'mix a' || CAST(doc_id % 10 AS VARCHAR) || '@b.io and 10.0.0.' || " +
        "CAST(doc_id % 256 AS VARCHAR) " +
        "ELSE 'no pii here at all' END AS planted, text FROM documents) " +
        "SELECT doc_id, " + scrub("planted") + " AS scrubbed, " +
        scrub("text") + " AS scrubbed_real FROM p ORDER BY doc_id"
    })((s, dir) => {
      val planted = element_at(array(
        lit("contact john.doe+spam@example.co.uk thanks"),
        lit("server at 192.168.1.100 responded"),
        lit("call +1 (555) 123-4567 now"),
        concat(lit("mix a"), (col("doc_id") % 10).cast("string"),
          lit("@b.io and 10.0.0."), (col("doc_id") % 256).cast("string")),
        lit("no pii here at all")),
        (col("doc_id") % 5 + 1).cast("int"))
      docs(s, dir).select(col("doc_id"),
        call_function("scrub_pii", planted).as("scrubbed"),
        call_function("scrub_pii", col("text")).as("scrubbed_real"))
        .orderBy("doc_id")
    }),

    // ---- 16af. Benchmark decontamination (round 6): 13-gram overlap
    //      against a benchmark set built from substrings of every 37th
    //      doc — broadcast sorted-hash membership, one pass per row, no
    //      explode; DuckDB recomputes gram-by-gram over exact strings ----
    QuerySpec("q_contamination",
      "WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), " +
        "'\\s+'), x -> x <> '') AS ws FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(ws) < 13 THEN [] ELSE " +
        "list_transform(range(1, len(ws) - 11), i -> array_to_string(ws[i:i+12], ' ')) END AS gs " +
        "FROM w), " +
        "bw AS (SELECT list_filter(regexp_split_to_array(lower(trim(substr(text, 5, 120))), " +
        "'\\s+'), x -> x <> '') AS ws FROM documents WHERE doc_id % 37 = 0), " +
        "bg AS (SELECT DISTINCT unnest(CASE WHEN len(ws) < 13 THEN [] ELSE " +
        "list_transform(range(1, len(ws) - 11), i -> array_to_string(ws[i:i+12], ' ')) END) AS gr " +
        "FROM bw), " +
        "bl AS (SELECT coalesce(list(gr), []) AS gs FROM bg) " +
        "SELECT doc_id, CAST(len(list_filter(g.gs, x -> list_contains(bl.gs, x))) AS BIGINT) AS n_hits, " +
        "len(list_filter(g.gs, x -> list_contains(bl.gs, x))) > 0 AS contaminated " +
        "FROM g, bl ORDER BY doc_id")((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 37 === 0)
        .select(substring(col("text"), 5, 120).as("text"))
      TextOps.contaminationCheck(s, d, bench).orderBy("doc_id")
    }),

    // ---- 16ae. Per-host template removal (round 6): the host-scoped
    //      boilerplate cut — a banner in 100% of a host's pages drops
    //      everywhere, a ~50% promo rides the strict >maxDocFrac
    //      boundary, unique bodies survive; DuckDB re-derives the
    //      fraction rule over the same built corpus ----
    QuerySpec("q_host_template",
      "WITH b AS (SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) AS host, " +
        "'welcome to host ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || chr(10) || " +
        "CASE WHEN doc_id % 2 = 0 THEN 'promo ' || CAST(doc_id % 5 AS VARCHAR) || " +
        "chr(10) || chr(10) ELSE '' END || substr(text, 1, 50) AS t FROM documents), " +
        "l AS (SELECT doc_id, host, string_split(t, chr(10) || chr(10)) AS ps FROM b), " +
        "p AS (SELECT doc_id, host, unnest(ps) AS para, " +
        "unnest(range(1, len(ps) + 1)) AS i FROM l), " +
        "pp AS (SELECT doc_id, host, para, i - 1 AS idx FROM p WHERE para <> ''), " +
        "hd AS (SELECT host, count(DISTINCT doc_id) AS n_docs FROM b GROUP BY host), " +
        "tw AS (SELECT host, para, count(DISTINCT doc_id) AS n_with FROM pp GROUP BY host, para), " +
        "tpl AS (SELECT tw.host, tw.para FROM tw JOIN hd ON tw.host = hd.host " +
        "WHERE hd.n_docs >= 3 AND CAST(n_with AS DOUBLE) > n_docs * 0.5), " +
        "k AS (SELECT pp.doc_id, string_agg(pp.para, chr(10) || chr(10) ORDER BY pp.idx) AS tc " +
        "FROM pp LEFT JOIN tpl ON pp.host = tpl.host AND pp.para = tpl.para " +
        "WHERE tpl.para IS NULL GROUP BY pp.doc_id) " +
        "SELECT d.doc_id, COALESCE(k.tc, '') AS text_clean FROM documents d " +
        "LEFT JOIN k ON d.doc_id = k.doc_id ORDER BY d.doc_id")((s, dir) => {
      val host = concat(lit("h"), (col("doc_id") % 5).cast("string"))
      val banner = concat(lit("welcome to host "), (col("doc_id") % 5).cast("string"))
      val promo = concat(lit("promo "), (col("doc_id") % 5).cast("string"))
      val built = concat(banner, lit("\n\n"),
        when(col("doc_id") % 2 === 0, concat(promo, lit("\n\n"))).otherwise(lit("")),
        substring(col("text"), 1, 50))
      TextOps.hostTemplateRemove(
        docs(s, dir).select(col("doc_id"), host.as("host"), built.as("text")))
        .orderBy("doc_id")
    }),

    // ---- 16ad. Mojibake repair / normalization (round 6): cp1252-
    //      carried UTF-8 misdecodes repaired (single + double), NFC
    //      composition, control strip; the real-text leg pins that clean
    //      ASCII passes through byte-identical ----
    QuerySpec("q_fix_text",
      "SELECT doc_id, CASE CAST(doc_id % 6 AS INT) " +
        "WHEN 0 THEN 'café ok' WHEN 1 THEN 'don’t stop' " +
        "WHEN 2 THEN 'é twice' WHEN 3 THEN 'cléan é' " +
        "WHEN 4 THEN 'ctrl here' ELSE 'plain café text' END AS fixed, " +
        "text AS fixed_real FROM documents ORDER BY doc_id")((s, dir) => {
      val planted = element_at(array(
        lit("cafÃ© ok"), lit("donâ€™t stop"),
        lit("ÃƒÂ© twice"), lit("cléan é"),
        lit("ctrl here"), lit("plain café text")),
        (col("doc_id") % 6 + 1).cast("int"))
      docs(s, dir).select(col("doc_id"),
        call_function("fix_text", planted).as("fixed"),
        call_function("fix_text", col("text")).as("fixed_real"))
        .orderBy("doc_id")
    }),

    // ---- 16ac. Cross-snapshot capture diff (round 6): the monthly-
    //      recrawl revisit decision — new/revisit/changed/gone per surt,
    //      multi-capture sides collapsed to the latest first; DuckDB
    //      re-derives via its own window + full outer join ----
    QuerySpec("q_snapshot_diff",
      "WITH d AS (SELECT doc_id AS id FROM documents), " +
        "prev AS (SELECT 's' || CAST(id AS VARCHAR) AS surt, id + 1000 AS ts, " +
        "'a' || CAST(id % 5 AS VARCHAR) AS digest FROM d WHERE id % 10 <> 9 " +
        "UNION ALL SELECT 's' || CAST(id AS VARCHAR), id + 500, " +
        "'old' || CAST(id AS VARCHAR) FROM d WHERE id % 4 = 0 AND id % 10 <> 9), " +
        "curr AS (SELECT 's' || CAST(id AS VARCHAR) AS surt, id + 2000 AS ts, " +
        "CASE WHEN id % 3 = 0 THEN 'b' || CAST(id AS VARCHAR) " +
        "ELSE 'a' || CAST(id % 5 AS VARCHAR) END AS digest FROM d WHERE id % 10 <> 8), " +
        "p AS (SELECT surt, ts AS ts_prev, digest AS digest_prev FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY surt ORDER BY ts DESC, digest DESC) AS rn " +
        "FROM prev) WHERE rn = 1), " +
        "c AS (SELECT surt, ts AS ts_curr, digest AS digest_curr FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY surt ORDER BY ts DESC, digest DESC) AS rn " +
        "FROM curr) WHERE rn = 1) " +
        "SELECT COALESCE(p.surt, c.surt) AS surt, " +
        "CASE WHEN p.surt IS NULL THEN 'new' WHEN c.surt IS NULL THEN 'gone' " +
        "WHEN digest_prev = digest_curr THEN 'revisit' ELSE 'changed' END AS status, " +
        "COALESCE(ts_prev, -1) AS ts_prev, COALESCE(ts_curr, -1) AS ts_curr, " +
        "CASE WHEN digest_prev = digest_curr THEN ts_prev ELSE -1 END AS refers_to " +
        "FROM p FULL OUTER JOIN c ON p.surt = c.surt ORDER BY surt")((s, dir) => {
      val ids = docs(s, dir).select(col("doc_id"))
      val sid = concat(lit("s"), col("doc_id").cast("string"))
      val prev1 = ids.filter(col("doc_id") % 10 =!= 9)
        .select(sid.as("surt"), (col("doc_id") + 1000).as("ts"),
          concat(lit("a"), (col("doc_id") % 5).cast("string")).as("digest"))
      val prev2 = ids.filter(col("doc_id") % 4 === 0 && col("doc_id") % 10 =!= 9)
        .select(sid.as("surt"), (col("doc_id") + 500).as("ts"),
          concat(lit("old"), col("doc_id").cast("string")).as("digest"))
      val curr = ids.filter(col("doc_id") % 10 =!= 8)
        .select(sid.as("surt"), (col("doc_id") + 2000).as("ts"),
          when(col("doc_id") % 3 === 0,
            concat(lit("b"), col("doc_id").cast("string")))
            .otherwise(concat(lit("a"), (col("doc_id") % 5).cast("string")))
            .as("digest"))
      graft.spark.CrawlGraphOps.snapshotDiff(prev1.union(prev2), curr)
        .orderBy("surt")
    }),

    // ---- 16ab. Paragraph-level cross-doc dedup (round 6, CCNet
    //      granularity): shared banners (7 clusters), near-unique real-
    //      text bodies, one corpus-wide footer — every repeat occurrence
    //      dropped, first (doc_id, idx) survives, doc rebuilt in order ----
    QuerySpec("q_dedup_para",
      "WITH b AS (SELECT doc_id, 'shared banner ' || CAST(doc_id % 7 AS VARCHAR) || " +
        "chr(10) || chr(10) || substr(text, 1, 60) || chr(10) || chr(10) || " +
        "'footer common' AS t FROM documents), " +
        "l AS (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps FROM b), " +
        "p AS (SELECT doc_id, unnest(ps) AS para, " +
        "unnest(range(1, len(ps) + 1)) AS i FROM l), " +
        "k AS (SELECT doc_id, para, i - 1 AS idx, " +
        "row_number() OVER (PARTITION BY para ORDER BY doc_id, i) AS rn " +
        "FROM p WHERE para <> ''), " +
        "r AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY idx) AS td " +
        "FROM k WHERE rn = 1 GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(r.td, '') AS text_dedup " +
        "FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id ORDER BY d.doc_id")((s, dir) => {
      val built = concat(
        lit("shared banner "), (col("doc_id") % 7).cast("string"),
        lit("\n\n"), substring(col("text"), 1, 60),
        lit("\n\n"), lit("footer common"))
      TextOps.paragraphDedup(docs(s, dir).select(col("doc_id"), built.as("text")))
        .orderBy("doc_id")
    }),

    // ---- 16aa. Gopher quality filter (round 6): the full A1.1 rule set
    //      recomputed cross-engine over the REAL documents.text column
    //      (word count, mean word length, symbol/bullet/ellipsis/alpha
    //      fractions, distinct stop-word hits, the composed pass bit);
    //      the planted leg drives each rule's violating shape through
    //      the pass decision — one rule broken per shape ----
    QuerySpec("q_gopher",
      "WITH w AS (SELECT doc_id, text, " +
        "CASE WHEN length(trim(text)) = 0 THEN [] " +
        "ELSE regexp_split_to_array(trim(text), '\\s+') END AS words FROM documents), " +
        "s AS (SELECT doc_id, text, CAST(len(words) AS BIGINT) AS wc, " +
        "CASE WHEN len(words) = 0 THEN 0.0 ELSE " +
        "CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(words) END AS mwl, " +
        "CASE WHEN len(words) = 0 THEN 0.0 ELSE CAST(" +
        "(length(text) - length(replace(text, '#', ''))) + " +
        "(length(text) - length(replace(text, '…', ''))) + " +
        "(length(text) - length(replace(text, '...', ''))) // 3 " +
        "AS DOUBLE) / len(words) END AS swr, " +
        "CASE WHEN len(words) = 0 THEN 0.0 ELSE " +
        "CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words) END AS awf, " +
        "CAST(len(list_filter(['the','be','to','of','and','that','have','with'], " +
        "st -> list_contains(list_transform(words, " +
        "x -> lower(regexp_replace(x, '^[^a-zA-Z0-9]+|[^a-zA-Z0-9]+$', '', 'g'))), st))) AS BIGINT) AS hits " +
        "FROM w), " +
        "ln AS (SELECT doc_id, " +
        "count(*) FILTER (WHERE rt <> '') AS nl, " +
        "count(*) FILTER (WHERE rt <> '' AND substring(lt, 1, 1) IN ('•','‣','▪','-','*')) AS nb, " +
        "count(*) FILTER (WHERE rt <> '' AND (right(rt, 1) = '…' OR right(rt, 3) = '...')) AS ne " +
        "FROM (SELECT doc_id, lt, rtrim(lt, ' ' || chr(9)) AS rt FROM " +
        "(SELECT doc_id, ltrim(unnest(string_split(text, chr(10))), ' ' || chr(9)) AS lt " +
        "FROM documents)) GROUP BY doc_id) " +
        "SELECT s.doc_id, wc AS word_count, mwl AS mean_word_len, " +
        "swr AS symbol_word_ratio, " +
        "CASE WHEN COALESCE(nl, 0) = 0 THEN 0.0 ELSE CAST(COALESCE(nb, 0) AS DOUBLE) / nl END AS bullet_line_frac, " +
        "CASE WHEN COALESCE(nl, 0) = 0 THEN 0.0 ELSE CAST(COALESCE(ne, 0) AS DOUBLE) / nl END AS ellipsis_line_frac, " +
        "awf AS alpha_word_frac, hits AS stopword_hits, " +
        "(wc BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0 AND swr < 0.1 " +
        "AND CASE WHEN COALESCE(nl, 0) = 0 THEN 0.0 ELSE CAST(COALESCE(nb, 0) AS DOUBLE) / nl END <= 0.9 " +
        "AND CASE WHEN COALESCE(nl, 0) = 0 THEN 0.0 ELSE CAST(COALESCE(ne, 0) AS DOUBLE) / nl END <= 0.3 " +
        "AND awf >= 0.8 AND hits >= 2) AS passes, " +
        "(s.doc_id % 6 = 0) AS planted_passes " +
        "FROM s LEFT JOIN ln ON s.doc_id = ln.doc_id ORDER BY s.doc_id")((s, dir) => {
      val planted = element_at(array(
        concat(lit("the of "), repeat(lit("alpha beta gamma delta "), 13)),
        repeat(lit("- the of item list here money maker\n"), 20),
        repeat(lit("the of word lines that keep going...\n"), 20),
        concat(lit("the of "), repeat(lit("# tag "), 30)),
        lit("the of tiny"),
        repeat(lit("alpha beta gamma delta "), 15)),
        (col("doc_id") % 6 + 1).cast("int"))
      docs(s, dir).select(col("doc_id"),
        call_function("gopher_quality", col("text")).as("g"),
        call_function("gopher_quality", planted)
          .getField("passes").as("planted_passes"))
        .select(col("doc_id"), col("g.*"), col("planted_passes"))
        .orderBy("doc_id")
    }),

    // ---- 16w. Gopher repetition signals (round 6): dup-line/paragraph
    //      fractions recomputed cross-engine over text BUILT from the
    //      real documents.text column (substr lines with planted
    //      duplicates — DuckDB rebuilds the same string and re-derives
    //      the fractions via unnest+group, no closed forms); the
    //      union-coverage top-bigram leg uses planted shapes whose
    //      coverage is analytic, including the overlapping-bigram case ----
    QuerySpec("q_repetition",
      "WITH built AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 " +
        "THEN p1 || chr(10) || chr(10) || p2 || chr(10) || chr(10) || p2 " +
        "ELSE p1 || chr(10) || chr(10) || p2 END AS t FROM " +
        "(SELECT doc_id, l1 || chr(10) || l1 || chr(10) || l2 AS p1, " +
        "l2 || chr(10) || l1 AS p2 FROM (SELECT doc_id, " +
        "substr(text, 1, 17) AS l1, substr(text, 19, 11) AS l2 FROM documents))), " +
        "lu AS (SELECT doc_id, unnest(list_filter(string_split(t, chr(10)), " +
        "x -> x <> '')) AS u FROM built), " +
        "lg AS (SELECT doc_id, u, count(*) AS c, length(u) AS w FROM lu GROUP BY doc_id, u), " +
        "ls AS (SELECT doc_id, CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dlf, " +
        "CASE WHEN sum(c*w) = 0 THEN 0.0 ELSE CAST(sum((c-1)*w) AS DOUBLE) / sum(c*w) END AS dlcf " +
        "FROM lg GROUP BY doc_id), " +
        "pu AS (SELECT doc_id, unnest(list_filter(string_split(t, chr(10) || chr(10)), " +
        "x -> x <> '')) AS u FROM built), " +
        "pg AS (SELECT doc_id, u, count(*) AS c, length(u) AS w FROM pu GROUP BY doc_id, u), " +
        "ps AS (SELECT doc_id, CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dpf, " +
        "CASE WHEN sum(c*w) = 0 THEN 0.0 ELSE CAST(sum((c-1)*w) AS DOUBLE) / sum(c*w) END AS dpcf " +
        "FROM pg GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(ls.dlf, 0.0) AS dup_line_frac, " +
        "COALESCE(ls.dlcf, 0.0) AS dup_line_char_frac, " +
        "COALESCE(ps.dpf, 0.0) AS dup_para_frac, " +
        "COALESCE(ps.dpcf, 0.0) AS dup_para_char_frac, " +
        "CASE CAST(d.doc_id % 4 AS INT) WHEN 0 THEN 0.8 WHEN 1 THEN 1.0 " +
        "WHEN 2 THEN 2.0/3 ELSE 6.0/7 END AS top_bigram_char_frac " +
        "FROM documents d LEFT JOIN ls ON d.doc_id = ls.doc_id " +
        "LEFT JOIN ps ON d.doc_id = ps.doc_id ORDER BY d.doc_id")((s, dir) => {
      val l1 = substring(col("text"), 1, 17)
      val l2 = substring(col("text"), 19, 11)
      val p1 = concat(l1, lit("\n"), l1, lit("\n"), l2)
      val p2 = concat(l2, lit("\n"), l1)
      val built = when(col("doc_id") % 2 === 0,
        concat(p1, lit("\n\n"), p2, lit("\n\n"), p2))
        .otherwise(concat(p1, lit("\n\n"), p2))
      val shapes = array(lit("a b a b a"), lit("cc dd cc dd"),
        lit("e f g"), lit("hh hh hh x"))
      docs(s, dir).select(col("doc_id"),
        call_function("repetition_signals", built).as("r"),
        call_function("repetition_signals",
          element_at(shapes, (col("doc_id") % 4 + 1).cast("int")))
          .getField("top_bigram_char_frac").as("top_bigram_char_frac"))
        .select(col("doc_id"),
          col("r.dup_line_frac").as("dup_line_frac"),
          col("r.dup_line_char_frac").as("dup_line_char_frac"),
          col("r.dup_para_frac").as("dup_para_frac"),
          col("r.dup_para_char_frac").as("dup_para_char_frac"),
          col("top_bigram_char_frac"))
        .orderBy("doc_id")
    }),

    // ---- training-data ops over planted-ground-truth corpora ----
    // language id: planted marker-stopword text, closed-form expected lang
    QuerySpec("q_lang_id",
      "SELECT doc_id, CASE CAST(doc_id % 9 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de' " +
        "WHEN 2 THEN 'es' WHEN 3 THEN 'fr' WHEN 4 THEN 'zh' WHEN 5 THEN 'ja' " +
        "WHEN 6 THEN 'ko' WHEN 7 THEN 'ru' ELSE 'ar' END AS lang_pred " +
        "FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id").as[Long])
        .map(id => (id, TextOps.langId(TextFixtures.langText(id))))
        .toDF("doc_id", "lang_pred").orderBy("doc_id")
    }),

    // fingerprint + simhash + winnowing: planted identical/unrelated pairs
    // (spread: the per-id fixture synthesis + 2x simhash/winnow sets are
    // the cost — serial on the one-file scan otherwise)
    QuerySpec("q_fingerprint",
      "SELECT doc_id, ((doc_id // 2) % 2 = 0) AS fp_eq, ((doc_id // 2) % 2 = 0) AS sim_near, " +
        "((doc_id // 2) % 2 = 0) AS ov_near FROM documents ORDER BY doc_id")((s, dir) => {
      import s.implicits._
      spread(s, docs(s, dir).select("doc_id")).select(col("doc_id").as[Long]).map { id =>
        val t = TextFixtures.fpText(id)
        val p = TextFixtures.fpText(id ^ 1L)
        val fpEq = TextOps.fingerprint(t, 16) == TextOps.fingerprint(p, 16)
        val ham = java.lang.Long.bitCount(TextOps.simHash(t) ^ TextOps.simHash(p))
        val ov = TextOps.winnowOverlap(TextOps.winnowSet(t), TextOps.winnowSet(p))
        (id, fpEq, ham <= 8, ov >= 0.9)
      }.toDF("doc_id", "fp_eq", "sim_near", "ov_near").orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs over the planted near-dup corpus: the
    // whitespace-variant pairs MUST come out (identical shingle sets), the
    // mutated pairs MUST NOT (exact-Jaccard verify < 0.9)
    QuerySpec("q_dedup_minhash", DedupPairOracle)((s, dir) => {
      import s.implicits._
      val synth = docs(s, dir).select(col("doc_id").as[Long])
        .map(id => (id, TextFixtures.nearDupText(id))).toDF("doc_id", "text")
      TextOps.minhashPairs(s, synth).orderBy("left_id", "right_id")
    }),

    // SimHash near-dup pairs over the fingerprint corpus: identical-text
    // pairs collide on every 16-bit band (Hamming 0); unrelated docs that
    // happen to share a band are rejected by the Hamming<=3 verify
    QuerySpec("q_dedup_simhash", DedupPairOracle)((s, dir) => {
      import s.implicits._
      val synth = docs(s, dir).select(col("doc_id").as[Long])
        .map(id => (id, TextFixtures.fpText(id))).toDF("doc_id", "text")
      TextOps.simhashPairs(s, synth).orderBy("left_id", "right_id")
    }),

    // embedding-cosine near-dup pairs over planted identical/independent
    // vector pairs: LSH buckets generate candidates, exact cosine verifies
    QuerySpec("q_dedup_embed", DedupPairOracle)((s, dir) => {
      import s.implicits._
      val emb = docs(s, dir).select(col("doc_id").as[Long])
        .map(id => (id, TextFixtures.pairVec(id).toSeq)).toDF("vec_id", "embedding")
      TextOps.embedDupPairs(s, emb).orderBy("left_id", "right_id")
    }),

    // brute-force ANN top-k: rank order checked against DuckDB's own
    // list_cosine_similarity over the same embeddings table
    QuerySpec("q_ann_topk", AnnQuery0Oracle)((s, dir) =>
      TextOps.annTopK(s, dir, queryId = 0L, k = 5)),

    // LSH ANN eval with a CROSS-ENGINE oracle: the exact per-query top-k
    // computed over multi-probe LSH candidates must equal DuckDB's own
    // brute-force top-k for every one of the m queries — any candidate-set
    // miss hash-mismatches (the recall bit is no longer self-graded)
    QuerySpec("q_ann_lsh", AnnMultiQueryOracle)((s, dir) =>
      TextOps.annLshTopKEval(s, dir, m = 8, k = 5).orderBy("qid", "rank")),

    // IVF ANN eval (coarse-quantizer scale path), same cross-engine
    // contract: top-k == brute force. Exact at EVERY sf by construction:
    // phase 1 scans the nprobe=6 nearest inverted lists, then the
    // per-list radius certificate (TextOps.certifiedExpansion) either
    // proves the top-k global or names the only lists that could still
    // compete, which a phase-2 pass scans — clustered corpora certify
    // immediately, clusterless ones honestly pay for more lists
    QuerySpec("q_ann_ivf", AnnMultiQueryOracle)((s, dir) =>
      TextOps.annIvfTopKEval(s, dir, m = 8, k = 5, nprobe = 6).orderBy("qid", "rank")),

    // persisted-index probes (the 100-TB path): build-once parquet index
    // with (tbl, sigp) / list_id partition columns, probe = partition-pruned
    // read of O(probes) buckets — never a corpus scan; results must equal
    // DuckDB's brute-force top-k
    QuerySpec("q_ann_lsh_idx", AnnQuery0Oracle)((s, dir) => {
      val idx = TextOps.ensureAnnIndex(s, dir)
      TextOps.annLshIndexed(s, dir, idx, queryId = 0L, k = 5, radius = 2)
    }),
    QuerySpec("q_ann_ivf_idx", AnnQuery0Oracle)((s, dir) => {
      val idx = TextOps.ensureAnnIndex(s, dir)
      TextOps.annIvfIndexed(s, dir, idx, queryId = 0L, k = 5, nprobe = 6)
    }),

    // batch probe: ONE pruned index read serves all m queries; per-query
    // top-k must equal DuckDB's brute force for every query
    QuerySpec("q_ann_batch_idx", AnnMultiQueryOracle)((s, dir) => {
      val idx = TextOps.ensureAnnIndex(s, dir)
      TextOps.annLshIndexedBatch(s, dir, idx, queryIds = 0L until 8L, k = 5, radius = 2)
    }),

    // index MAINTENANCE paths under the same exact-top-k oracle: a grown
    // index (build + append) and a compacted one (build + 2 appends +
    // compaction) must both probe identically to DuckDB brute force over
    // the FULL corpus. The probes are eager (driver-ranked local rows),
    // so the throwaway index dir is deleted before returning.
    QuerySpec("q_ann_append_idx", AnnQuery0Oracle)((s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-ann-append").toString
      try {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        TextOps.buildAnnIndex(s, emb.where(col("vec_id") % 2 === 0), idx)
        TextOps.appendAnnIndex(s, emb.where(col("vec_id") % 2 === 1), idx, "b1")
        TextOps.annIvfIndexed(s, dir, idx, queryId = 0L, k = 5, nprobe = 6)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    }),
    QuerySpec("q_ann_compact_idx", AnnQuery0Oracle)((s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-ann-compact").toString
      try {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        TextOps.buildAnnIndex(s, emb.where(col("vec_id") % 3 === 0), idx)
        TextOps.appendAnnIndex(s, emb.where(col("vec_id") % 3 === 1), idx, "b1")
        TextOps.appendAnnIndex(s, emb.where(col("vec_id") % 3 === 2), idx, "b2")
        TextOps.compactAnnIndex(s, idx, epoch = "1")
        TextOps.annLshIndexed(s, dir, idx, queryId = 0L, k = 5, radius = 2)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    }),

    // lineage rollup derived from the extraction output itself (doc_id
    // recovered from the url, text bytes from the extracted text — the
    // oracle recomputes both from the documents table)
    QuerySpec("q_lineage",
      "SELECT doc_id % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS doc_count, " +
        "CAST(SUM(strlen(text)) AS BIGINT) AS text_bytes, " +
        "CAST(0 AS BIGINT) AS failures, " +
        "MIN(1735689600 + doc_id) AS ts_min, MAX(1735689600 + doc_id) AS ts_max " +
        "FROM documents GROUP BY 1 ORDER BY 1")((s, dir) => {
      import s.implicits._
      PagesGen.fromDocuments(s, dir).map { p =>
        val t = Extractor.extractMain(p.html, Extractor.Recipe.default)
        val docId = p.url.substring(p.url.lastIndexOf('/') + 1).toLong
        val bytes =
          if (t == null) 0L
          else t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
        (docId % 16, if (t == null) 1L else 0L, bytes, p.warc_ts.getTime / 1000)
      }.toDF("bucket", "failed", "text_bytes", "ts")
        .groupBy("bucket")
        .agg(count(lit(1)).as("doc_count"),
          sum(col("text_bytes")).as("text_bytes"),
          sum(col("failed")).as("failures"),
          min(col("ts")).as("ts_min"),
          max(col("ts")).as("ts_max"))
        .orderBy("bucket")
    })
  )
}
