package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{CrawlGraphOps, TextOps}

/** Round-7 optimization witnesses: every rewritten operator is pinned to
  * its previous semantics — driver fast paths against the distributed
  * fallbacks (pageRank, bpeTrain), the 32k-merge BPE scale claim, the
  * frontier two-stage cap under a mega-host, and cleanCorpus's
  * no-text-shuffle-key plan audit. */
class RoundSevenOptSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("round7-opt-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // deterministic pseudo-random multigraph with cycles, dangling sinks,
  // duplicate edges and a disconnected star — every structural case the
  // pageRank formula distinguishes
  private def synthGraph(n: Int, m: Int) = {
    val s = spark; import s.implicits._
    (0 until m).map { k =>
      val a = TextOps.mix64(k.toLong)
      (s"n${math.floorMod(a, n)}", s"n${math.floorMod(a >> 17, n + n / 4)}")
    }.toDF("src", "dst")
  }

  test("pageRank: driver fast path == distributed loop (per-node, 1e-9)") {
    val g = synthGraph(40, 300)
    val fast = CrawlGraphOps.pageRank(g, iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dist = CrawlGraphOps.pageRank(g, iters = 8, driverEdgeBudget = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fast.keySet == dist.keySet)
    fast.foreach { case (node, pr) =>
      assert(math.abs(pr - dist(node)) <= 1e-9 * math.max(1.0, math.abs(pr)),
        s"$node: fast=$pr dist=${dist(node)}")
    }
    // both conserve total mass
    assert(math.abs(fast.values.sum - 1.0) < 1e-9)
    assert(math.abs(dist.values.sum - 1.0) < 1e-9)
  }

  test("connectedComponents: driver path == distributed loop, incl. truncated rounds") {
    val s = spark; import s.implicits._
    // long chains (truncation at maxIters=3 must bite identically), a
    // cycle, a star, and duplicate/reversed edges
    val pairs = (0 until 30).map(i => (s"c$i", s"c${i + 1}")) ++
      Seq(("z0", "z1"), ("z1", "z2"), ("z2", "z0"), ("hub", "s1"), ("hub", "s2"),
        ("s1", "hub"), ("hub", "s1"))
    val g = pairs.toDF("a", "b")
    for (iters <- Seq(3, 8)) {
      val fast = CrawlGraphOps.connectedComponents(g, maxIters = iters)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val dist = CrawlGraphOps.connectedComponents(g, maxIters = iters, driverEdgeBudget = 0)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(fast == dist, s"iters=$iters")
    }
  }

  test("resolveRedirects: driver path == distributed loop (chains, cycles, dup successors)") {
    val s = spark; import s.implicits._
    val pairs = (0 until 12).flatMap(i =>
      (0 until i % 5).map(j => (s"u$i/$j", s"u$i/${j + 1}"))) ++
      Seq(("loop/a", "loop/b"), ("loop/b", "loop/a"),
        ("dup", "z-target"), ("dup", "a-target")) // min successor wins
    val g = pairs.toDF("src", "dst")
    val fast = CrawlGraphOps.resolveRedirects(g, maxHops = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).sorted.toSeq
    val dist = CrawlGraphOps.resolveRedirects(g, maxHops = 4, driverEdgeBudget = 0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).sorted.toSeq
    assert(fast == dist)
    assert(fast.exists(_._4 == "capped") && fast.exists(_._4 == "final"))
  }

  test("bpeTrain: driver escape == distributed merge table, including ties") {
    val s = spark; import s.implicits._
    // tie-heavy corpus: equal pair counts exercise the (count desc, left,
    // right) order on both paths
    val docs = Seq(
      "low low low low low lower lower newest newest newest newest newest newest widest widest widest",
      "aa ab aa ab ba", "zz zz yy yy xy yx").toDF("text")
    val fast = TextOps.bpeTrain(spark, docs, numMerges = 24)
      .orderBy("rank").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val dist = TextOps.bpeTrain(spark, docs, numMerges = 24, driverWordBudget = 0)
      .orderBy("rank").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(fast.toSeq == dist.toSeq)
    assert(fast.nonEmpty)
  }

  test("bpeTrain: 32k merges over a synthetic word table finish in seconds") {
    val s = spark; import s.implicits._
    // Zipf-ish synthetic vocabulary: enough distinct words/pairs that 32k
    // DISTINCT merges exist (the r6 distributed loop would schedule ~64k
    // jobs here — hours of overhead; the driver loop must do it in seconds)
    val words = (0 until 30000).map { i =>
      val h = TextOps.mix64(i.toLong)
      val len = 5 + math.floorMod(h, 12).toInt
      val sb = new StringBuilder
      var x = h
      (0 until len).foreach { _ =>
        sb.append(('a' + math.floorMod(x, 26)).toChar); x = TextOps.mix64(x)
      }
      val f = 1 + math.floorMod(h >> 7, 50).toInt
      (sb.toString, f)
    }
    val docs = words.map { case (w, f) => (w + " ") * f }.mkString(" ").split("(?<=\\G.{50000})")
      .toSeq.toDF("text")
    val t0 = System.nanoTime()
    val merges = TextOps.bpeTrain(spark, docs, numMerges = 32768, minPairCount = 1L)
    val got = merges.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"32k-merge train: $got merges in $secs%.1f s")
    assert(got >= 30000L, s"expected a deep merge table, got $got")
    assert(secs < 60.0, f"32k merges took $secs%.1f s — driver escape not effective")
  }

  test("frontier: mega-host two-stage cap == exact per-host top-N") {
    val s = spark; import s.implicits._
    // one host with 5000 candidate links, two small hosts; no robots
    val pages = Seq.tabulate(500) { i =>
      val links = (0 until 10).map(j => s"""<a href="/p/${i * 10 + j}">x</a>""").mkString
      (links.getBytes("UTF-8"), s"https://mega.ex/seed/$i")
    }.toDF("html", "page_url")
      .unionByName(Seq(
        ("""<a href="/a">a</a><a href="/b">b</a>""".getBytes("UTF-8"), "https://tiny.ex/p/0"))
        .toDF("html", "page_url"))
    val seen = Seq("https://mega.ex/p/0").toDF("url")
    val robots = Seq.empty[(String, String)].toDF("host", "robots_txt")
    val got = CrawlGraphOps.frontier(pages, robots, "bot", seen, maxPerHost = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    // expected: 8 smallest unseen urls for mega.ex, both for tiny.ex
    val megaExpected = (0 until 5000).map(i => s"https://mega.ex/p/$i")
      .filterNot(_ == "https://mega.ex/p/0").sorted.take(8)
      .map(("mega.ex", _))
    val tinyExpected = Seq(("tiny.ex", "https://tiny.ex/a"), ("tiny.ex", "https://tiny.ex/b"))
    assert(got.toSeq == (megaExpected ++ tinyExpected).sorted)
  }

  // deterministic clustered embedding corpus (same shape as the sf tables:
  // a few genuine clusters plus noise) for the lifecycle equivalence spec
  private def synthEmb(n: Int, dim: Int = 16) = {
    val s = spark; import s.implicits._
    (0 until n).map { i =>
      val c = i % 5
      val v = Array.tabulate(dim) { d =>
        val base = if (d % 5 == c) 1.0f else 0.0f
        base + (TextOps.mix64(i.toLong * dim + d) % 1000L) / 10000.0f
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("ANN lifecycle: driver fast path writes the same index as the distributed path") {
    val emb = synthEmb(300)
    def lifecycle(base: String, budget: Int): String = {
      val dir = s"$base/idx"
      TextOps.buildAnnIndex(spark, emb.where(col("vec_id") % 3 === 0), dir,
        driverVecBudget = budget)
      TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 3 === 1), dir, "b1",
        driverVecBudget = budget)
      TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 3 === 2), dir, "b2",
        driverVecBudget = budget)
      TextOps.compactAnnIndex(spark, dir, epoch = "1", driverVecBudget = budget)
      dir
    }
    val baseL = java.nio.file.Files.createTempDirectory("ann-eq-local").toString
    val baseD = java.nio.file.Files.createTempDirectory("ann-eq-dist").toString
    try {
      val local = lifecycle(baseL, TextOps.AnnDriverVecBudget)
      val dist = lifecycle(baseD, 0)
      // identical section CONTENT: same rows (values), same partition dirs
      def rows(dir: String, section: String, cols: Seq[String]): Seq[Seq[Any]] =
        spark.read.parquet(s"$dir/$section").select(cols.map(col): _*)
          .collect().map(_.toSeq.map {
            case s: Seq[_] => s.toVector
            case x => x
          }).sortBy(_.toString()).toSeq
      for ((section, cols) <- Seq(
        "meta" -> Seq("planes", "tables", "nlist", "n", "version"),
        "centroids" -> Seq("list_id", "centroid"),
        "radii" -> Seq("list_id", "radius", "cnt", "batch"),
        "lsh" -> Seq("vec_id", "tbl", "sig", "sigp", "batch", "embedding"),
        "ivf" -> Seq("vec_id", "list_id", "batch", "embedding"),
        "batches" -> Seq("batch", "n_rows")))
        assert(rows(local, section, cols) == rows(dist, section, cols),
          s"section $section differs between the driver and distributed paths")
      // and identical probe results end-to-end over the compacted index
      val sf = java.nio.file.Files.createTempDirectory("ann-eq-sf").toString
      try {
        emb.write.mode("overwrite").parquet(s"$sf/embeddings.parquet")
        for (q <- Seq(0L, 7L, 123L)) {
          val a = TextOps.annLshIndexed(spark, sf, local, q, 5, radius = 2)
            .collect().map(_.getLong(1)).toSeq
          val b = TextOps.annLshIndexed(spark, sf, dist, q, 5, radius = 2)
            .collect().map(_.getLong(1)).toSeq
          assert(a == b, s"LSH probe q=$q: $a != $b")
          val c = TextOps.annIvfIndexed(spark, sf, local, q, 5)
            .collect().map(_.getLong(1)).toSeq
          val d = TextOps.annIvfIndexed(spark, sf, dist, q, 5)
            .collect().map(_.getLong(1)).toSeq
          assert(c == d, s"IVF probe q=$q: $c != $d")
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sf))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(baseL))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(baseD))
    }
  }

  test("compactAnnIndex: a pre-v5 index (radii without cnt) takes the distributed path, same probes") {
    val emb = synthEmb(300)
    val base = java.nio.file.Files.createTempDirectory("ann-v4").toString
    def delete(path: String): Unit =
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    try {
      val v5 = s"$base/v5"
      val v4 = s"$base/v4"
      for (dir <- Seq(v5, v4)) {
        TextOps.buildAnnIndex(spark, emb.where(col("vec_id") % 2 === 0), dir)
        TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 2 === 1), dir, "b1")
      }
      // the v4 shape: meta version 4, radii batches without the cnt column
      def rewrite(section: String, partitionBy: Seq[String])(
          f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$base/tmp-$section"
        f(spark.read.parquet(s"$v4/$section")).write.partitionBy(partitionBy: _*).parquet(tmp)
        delete(s"$v4/$section")
        assert(new java.io.File(tmp).renameTo(new java.io.File(s"$v4/$section")))
      }
      rewrite("meta", Nil)(_.withColumn("version", lit(4)))
      rewrite("radii", Seq("batch"))(_.drop("cnt"))
      assert(!spark.read.parquet(s"$v4/radii").columns.contains("cnt"))
      val sf = s"$base/sf"
      emb.write.parquet(s"$sf/embeddings.parquet")
      // probing the v4 shape fails loudly with the rebuild error
      val err = intercept[IllegalArgumentException](TextOps.annIvfIndexed(spark, sf, v4, 0L, 5))
      assert(err.getMessage.contains("predates v5"), err.getMessage)

      // the distributed path is the one that localCheckpoints the vectors
      // (stage names are the action's call site)
      def compactCallSites(dir: String): Seq[String] = {
        val sites = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            e.stageInfos.foreach(st => sites.add(st.name))
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          TextOps.compactAnnIndex(spark, dir, epoch = "1")
          org.apache.spark.TestBus.drain(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(listener)
        scala.jdk.CollectionConverters.ListHasAsScala(sites).asScala.toSeq
      }
      val distSites = compactCallSites(v4)
      val fastSites = compactCallSites(v5)
      assert(distSites.exists(_.startsWith("localCheckpoint")),
        s"a v4 index must compact on the distributed path: $distSites")
      assert(!fastSites.exists(_.startsWith("localCheckpoint")),
        s"a small v5 index compacts on the driver path: $fastSites")

      for (q <- Seq(0L, 7L, 123L)) {
        def lsh(dir: String) = TextOps.annLshIndexed(spark, sf, dir, q, 5, radius = 2)
          .collect().map(_.getLong(1)).toSeq
        def ivf(dir: String) = TextOps.annIvfIndexed(spark, sf, dir, q, 5)
          .collect().map(_.getLong(1)).toSeq
        assert(lsh(v4) == lsh(v5), s"LSH probe q=$q")
        assert(ivf(v4) == ivf(v5), s"IVF probe q=$q")
      }
    } finally delete(base)
  }

  test("ANN evals: driver fast path == distributed harness rows") {
    val sf = java.nio.file.Files.createTempDirectory("ann-eval-eq").toString
    try {
      synthEmb(250).write.mode("overwrite").parquet(s"$sf/embeddings.parquet")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
        df.orderBy("qid", "rank").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val lshFast = rows(TextOps.annLshTopKEval(spark, sf, m = 6, k = 5))
      val lshDist = rows(TextOps.annLshTopKEval(spark, sf, m = 6, k = 5,
        driverVecBudget = 0))
      assert(lshFast == lshDist)
      assert(lshFast.nonEmpty)
      val ivfFast = rows(TextOps.annIvfTopKEval(spark, sf, m = 6, k = 5))
      val ivfDist = rows(TextOps.annIvfTopKEval(spark, sf, m = 6, k = 5,
        driverVecBudget = 0))
      assert(ivfFast == ivfDist)
      assert(ivfFast.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sf))
  }

  test("cleanCorpus: no exchange is keyed by a text-typed column") {
    val s = spark; import s.implicits._
    // gopher-passing bodies (50 words with stopwords), some shared tails
    val docs = Seq.tabulate(60) { i =>
      val body = "the of " + (s"word${i % 20} " * 48).trim
      (i.toLong, s"h${i % 3}", s"$body\n\nthe of shared tail ${i % 5} here")
    }.toDF("doc_id", "host", "text")
    val df = TextOps.cleanCorpus(docs)
    // hashpartitioning keys straight out of the physical plan text (robust
    // to AQE wrapper nodes); the r6 final dedup grouped by `text` and
    // keyed an exchange on it
    val planStr = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val keys = "hashpartitioning\\([^)]*\\)".r.findAllIn(planStr).toList
    assert(keys.nonEmpty, "no exchanges found — plan shape changed?")
    keys.foreach { k =>
      assert(!k.matches(".*\\b(text|para|text_clean|text_dedup)#.*"),
        s"text-typed shuffle key: $k")
    }
  }
}
