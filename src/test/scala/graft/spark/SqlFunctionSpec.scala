package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Walks the registration table ([[GraftSparkExtensions.functions]]) so
  * that every SQL function, present and future, is held to the same
  * contract: named arity and type errors at analysis, NULL in NULL out
  * unless the row says null-aware, one static call inside whole-stage
  * codegen, the same rows interpreted, `name(args)` column names, a
  * `DESCRIBE FUNCTION` usage and a README entry. */
class SqlFunctionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: java.io.File = _
  private var sample: DataFrame = _
  private var holes: DataFrame = _

  private val functions = GraftSparkExtensions.functions

  // one value per argument name (a new argument name needs one here);
  // `body` is a sitemap, except for the feed_* functions
  private val values: Map[String, String] = Map(
    "html" -> ("<html><head><title>T</title><link rel=canonical href=\"/c\">" +
      "<meta http-equiv=refresh content=\"0;url=/r\"><meta name=description content=d>" +
      "<script type=\"application/ld+json\">{\"a\":1}</script></head><body><main>" +
      "<p class=x>Hello <b>W</b> café</p><a href=\"/a\">A</a></main></body></html>"),
    "selector" -> "p, b",
    "attr" -> "class",
    "content_type" -> "text/html; charset=iso-8859-1",
    "base" -> "http://ex.com/dir/page",
    "ref" -> "../x?y#z",
    "url" -> "HTTP://Ex.COM:80/a/./b/../c?q=1#f",
    "http_date_string" -> "Sun, 06 Nov 1994 08:49:37 GMT",
    "cache_control" -> "max-age=100",
    "age" -> "10",
    "expires" -> "Sun, 06 Nov 1994 09:49:37 GMT",
    "date" -> "Sun, 06 Nov 1994 08:49:37 GMT",
    "last_modified" -> "Sat, 05 Nov 1994 08:49:37 GMT",
    "text" -> "the cafÃ© and 4111 1111 1111 1111, mail a@b.com\nline\nline",
    "base_url" -> "http://ex.com/dir/page",
    "robots_txt" -> "User-agent: *\nDisallow: /private\nCrawl-delay: 2\nSitemap: http://ex.com/s.xml",
    "agent" -> "bot",
    "path" -> "/private/x",
    "body" -> ("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
      "<url><loc>http://ex.com/a/x</loc></url></urlset>"),
    "feed_body" -> ("<rss version=\"2.0\"><channel><title>F</title><item><title>i</title>" +
      "<link>http://ex.com/i</link></item></channel></rss>"),
    "sitemap_url" -> "http://ex.com/a/sitemap.xml")
  private val binaryColumns = Seq("html", "body", "feed_body")
  // the null-aware rows' NULL-column cases
  private val holed = Set("robots_txt", "content_type", "cache_control", "age")

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[1]")
      .appName("graft-sql-function-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    dir = java.nio.file.Files.createTempDirectory("sql-fn").toFile
    val names = values.keys.toSeq.sorted
    val schema = StructType(names.map(StructField(_, StringType)) ++
      binaryColumns.map(c => StructField(c + "_b", BinaryType)))
    def write(name: String, hole: String => Boolean): DataFrame = {
      val row = Row((names.map(n => if (hole(n)) null else values(n)) ++
        binaryColumns.map(c => values(c).getBytes(UTF_8))): _*)
      val path = new java.io.File(dir, name).toString
      spark.createDataFrame(java.util.Arrays.asList(row), schema).write.parquet(path)
      spark.read.parquet(path) // a file scan: nothing folds into the plan
    }
    sample = write("sample", _ => false)
    holes = write("holes", holed)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  private def column(fn: SqlFunction, a: SqlArg, binary: Boolean): String = {
    val c = if (a.name == "body" && fn.name.startsWith("feed_")) "feed_body" else a.name
    if (binary || a.types == Seq(BinaryType)) c + "_b" else c
  }

  /** Column arguments: one call over STRING columns and, where the first
    * argument takes both types, one with a BINARY first column. */
  private def calls(fn: SqlFunction): Seq[(String, String)] = {
    val variants = if (fn.args.head.types.size > 1) Seq(false, true) else Seq(false)
    variants.map { binary =>
      val call = fn.args.zipWithIndex
        .map { case (a, i) => column(fn, a, binary && i == 0) }
        .mkString(s"${fn.name}(", ", ", ")")
      call -> (if (binary) fn.binEntry else Option(fn.strEntry).getOrElse(fn.binEntry))
    }
  }

  private def chain(t: Throwable): String =
    if (t == null) "" else t.toString + "|" + chain(t.getCause)

  private def one(df: DataFrame, call: String): Row = {
    val rows = df.selectExpr(call).collect()
    assert(rows.length == 1, call)
    rows.head
  }

  test("the table names each function once") {
    val names = functions.map(_.name)
    assert(names.distinct == names)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("wrong arity names the function and says expects") {
    for (fn <- functions) {
      val n = fn.args.size
      val min = if (fn.optionalLast) n - 1 else n
      for (k <- Seq(min - 1, n + 1) if k >= 0) {
        val call = Seq.fill(k)("'x'").mkString(s"${fn.name}(", ", ", ")")
        val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
        assert(chain(e).contains(s"${fn.name} expects"), s"$call: ${chain(e).take(300)}")
        assert(!chain(e).contains("IndexOutOfBounds"), s"$call leaked IOOBE")
      }
    }
  }

  test("a mistyped argument is an analysis error with the function's message") {
    val wrong = Seq("1" -> IntegerType, "'x'" -> StringType, "X'78'" -> BinaryType)
    for (fn <- functions; (a, i) <- fn.args.zipWithIndex;
         (literal, t) <- wrong if !a.types.contains(t)) {
      val args = fn.args.map(column(fn, _, binary = false)).updated(i, literal)
      val call = args.mkString(s"${fn.name}(", ", ", ")")
      val e = intercept[AnalysisException](sample.selectExpr(call))
      assert(e.getMessage.contains(s"${fn.name}: ${a.name} must be"), s"$call: ${e.getMessage}")
    }
  }

  test("an untyped NULL argument gives NULL unless the function is null-aware") {
    for (fn <- functions if !fn.nullAware) {
      val positions = fn.args.indices.map { i =>
        fn.args.map(column(fn, _, binary = false)).updated(i, "NULL")
          .mkString(s"${fn.name}(", ", ", ")")
      }
      val row = sample.selectExpr(positions: _*).collect().head
      positions.indices.foreach(i => assert(row.isNullAt(i), positions(i)))
    }
  }

  test("null-aware functions apply their rules to NULL column values") {
    def check(): Unit = {
      // no robots.txt published: everything is allowed
      assert(one(holes, "robots_allowed(robots_txt, agent, path)").getBoolean(0))
      assert(!one(sample, "robots_allowed(robots_txt, agent, path)").getBoolean(0))
      // an unknown agent beside a published robots.txt must not pass the gate
      assert(one(sample, "robots_allowed(robots_txt, NULL, path)").isNullAt(0))
      // a missing Content-Type still sniffs, from the bytes alone
      assert(one(sample, "charset_of(html_b, content_type)").getString(0) == "windows-1252")
      assert(one(holes, "charset_of(html_b, content_type)").getString(0) == "utf-8")
      assert(one(holes, "charset_of(html_b)").getString(0) == "utf-8")
      assert(new String(one(holes, "decode_html(html_b, content_type)")
        .getAs[Array[Byte]](0), UTF_8) == values("html"))
      // no payload, no answer
      assert(one(sample, "charset_of(NULL, content_type)").isNullAt(0))
      assert(one(sample, "decode_html(NULL, content_type)").isNullAt(0))
      // no Cache-Control and no Age: the Expires - Date rule applies
      val fresh = "http_fresh_seconds(cache_control, age, expires, date, last_modified)"
      assert(one(sample, fresh).getLong(0) == 90L)
      assert(one(holes, fresh).getLong(0) == 3600L)
    }
    check()
    interpreted(check())
  }

  test("non-foldable calls run as one static call inside whole-stage codegen") {
    for (fn <- functions; (call, entry) <- calls(fn)) {
      val plan = sample.selectExpr(call).queryExecution.executedPlan
      val inStage = plan.collect { case w: WholeStageCodegenExec => w.child }.exists(_.exists {
        case p: ProjectExec => p.projectList.exists(_.exists {
          case s: StaticInvoke => s.functionName == entry
          case _ => false
        })
        case _ => false
      })
      assert(inStage, s"$call:\n$plan")
    }
  }

  test("codegen and NO_CODEGEN give the same non-NULL result on the sample row") {
    for (fn <- functions; (call, _) <- calls(fn)) {
      val compiled = one(sample, call)
      assert(!compiled.isNullAt(0), s"$call is NULL on the sample row")
      assert(interpreted(one(sample, call)) == compiled, call)
    }
  }

  test("auto column names are name(args)") {
    for (fn <- functions; (call, _) <- calls(fn))
      assert(sample.selectExpr(call).columns.toSeq == Seq(call))
    // an omitted optional argument shows as the NULL it stands for
    assert(sample.selectExpr("charset_of(html_b)").columns.toSeq == Seq("charset_of(html_b, NULL)"))
    assert(sample.selectExpr("extract_text(NULL, 'p')").columns.toSeq == Seq("extract_text(NULL, p)"))
  }

  test("DESCRIBE FUNCTION prints each function's usage") {
    for (fn <- functions) {
      val text = spark.sql(s"DESCRIBE FUNCTION ${fn.name}").collect().map(_.getString(0)).mkString("\n")
      assert(text.contains(s"Usage: ${fn.signature} - ${fn.summary}"), text)
    }
  }

  test("README lists every registered function") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), UTF_8)
    val missing = functions.map(_.name).filterNot(n => readme.contains(s"`$n`"))
    assert(missing.isEmpty, s"missing from README.md: ${missing.mkString(", ")}")
  }
}
