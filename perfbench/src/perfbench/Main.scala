package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point.
  *
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`
  *
  * `--trace 0` measures the end-to-end metrics: set-up (corpus generation
  * plus input write) three times; at `local[nproc]` the checked pass, then
  * warm-up passes until [[WarmS]], then timed passes adding up to 40% of
  * `--seconds`; at `local[1]`, timed passes adding up to 60% of it. All
  * times are steal-free (see [[Timed]]). `--trace 1` is
  * the separate traced run: the same warm-up, untraced and traced passes
  * alternating at `local[nproc]` (traced ones under a `SparkListener`), a
  * scan-only pass and the driver-side layer probes; it prints the
  * per-layer metrics and writes every span to `<out>/spans.jsonl`. The
  * last stdout line is the result object; lines before it are records of
  * the run. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(m.getOrElse("out", ".bench_out")).toAbsolutePath)
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** warm-up before the first timed pass of a JVM, checked pass included:
    * pass times fall for about this long while the JIT compiles the hot
    * paths (measured on 4 cores; a shorter warm-up leaves a trend in the
    * timed passes). */
  val WarmS = 4.5

  def session(threads: Int, out: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-local$threads")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // one shuffle width at local[1] and local[nproc]; scan splits keep
      // Spark's defaults, which size them by the task-thread count
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally paths.close()
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** machine-wide CPU ticks run and stolen by the host, from /proc/stat;
    * zeros where it cannot be read. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** A timing: `s` is the wall time with the host's CPU steal taken out,
    * wall x run / (run + stolen) over the span, so that a host taking CPU
    * from this VM does not read as a slower program; `wall` is raw. */
  final case class Timed(s: Double, wall: Double)

  def timed(body: => Unit): Timed = {
    val (r0, st0) = cpuTicks()
    val t0 = System.nanoTime()
    body
    val wall = secs(t0)
    val (r1, st1) = cpuTicks()
    val (run, stolen) = (r1 - r0, st1 - st0)
    Timed(if (run + stolen > 0) wall * run / (run + stolen) else wall, wall)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** one line of the run's log; `uptime_s` is seconds since the JVM started. */
  private def record(kind: String, fields: Map[String, Any]): Unit =
    println(Stats.json(ListMap("record" -> kind,
      "uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0) ++ fields))

  /** closed loop: untimed warm-up passes, at least one and until `warmS`
    * seconds (none when `warmS` is None), then timed passes back to back
    * until they add up to `budgetS` and at least `minPasses` ran. Each
    * pass writes into a fresh directory under `work`, deleted after it.
    * Returns the timed passes. */
  def loop(spark: SparkSession, w: Workload, input: String, work: Path, budgetS: Double,
      minPasses: Int, t: Tracer, warmS: Option[Double], traceBase: Int = 0,
      onPass: (Int, Long, Long) => Unit = (_, _, _) => (),
      warmed: ArrayBuffer[Timed] = ArrayBuffer.empty): Seq[Timed] = {
    var k = 0
    def one(): Timed = {
      k += 1
      val dir = work.resolve(s"pass-$k")
      t.trace = traceBase + k
      val startUs = t.nowUs()
      val dt = timed(t.span("pass")(w.pass(spark, input, dir.toString, t)))
      onPass(traceBase + k, startUs / 1000L, t.nowUs() / 1000L)
      deleteTree(dir)
      dt
    }
    // budgets count steal-free seconds, so the host does not change how
    // much warm-up and measurement a run gets
    warmS.foreach { ws =>
      var spent = 0.0
      do { val dt = one(); warmed += dt; spent += dt.s } while (spent < ws)
    }
    val times = ArrayBuffer.empty[Timed]
    while (times.size < minPasses || times.map(_.s).sum < budgetS) times += one()
    times.toSeq
  }

  def envRecord(): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    ListMap(
      "cores" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_flags" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X") || a.startsWith("-XX")),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
      "jdk" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "task_threads" -> nproc)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = Workload.byName(a.workload)
    val out = a.out.resolve(s"${w.name}-s${a.seed}-t${if (a.trace) 1 else 0}")
    deleteTree(out)
    Files.createDirectories(out)
    record("env", envRecord())
    // inputs and pass outputs go when the run ends; only spans.jsonl stays
    val result = try { if (a.trace) traced(a, w, out) else endToEnd(a, w, out) }
    finally {
      val kids = Files.list(out)
      try kids.filter(_.getFileName.toString != "spans.jsonl").forEach(p => deleteTree(p))
      finally kids.close()
    }
    println(Stats.json(result))
  }

  private def corpusRecord(c: Corpus, deterministic: Boolean): Unit =
    record("corpus", ListMap.from(c.describe) + ("deterministic" -> deterministic))

  /** set up `times` times from the same seed; the digests must agree. A
    * small parquet write first loads the classes every set-up needs, so
    * no timed set-up pays the JVM's first Spark job. */
  private def setup(spark: SparkSession, a: Args, w: Workload, out: Path, times: Int)
      : (Corpus, String, Seq[Timed], Boolean) = {
    spark.range(1000).selectExpr("id", "cast(id as string) as s", "cast(cast(id as string) as binary) as b")
      .write.mode("overwrite").parquet(out.resolve("input-0").toString)
    val runs = (1 to times).map { k =>
      var c: Corpus = null
      val dir = out.resolve(s"input-$k").toString
      val dt = timed {
        c = Corpus.generate(w.name, a.seed)
        w.writeInput(spark, c, dir)
      }
      (dt, c, dir)
    }
    val deterministic = runs.map(_._2.digest).distinct.size == 1
    val (_, c, dir) = runs.last
    corpusRecord(c, deterministic)
    (c, dir, runs.map(_._1), deterministic)
  }

  private def checkRecord(phase: String, ch: Checked): Unit =
    record("check", ListMap("phase" -> phase, "attempted" -> ch.attempted, "failed" -> ch.failed,
      "mismatches" -> ch.notes))

  /** the first pass of a JVM is the checked one; its time counts toward
    * the warm-up that follows it. */
  private def checkedWarmUp(spark: SparkSession, a: Args, w: Workload, c: Corpus, input: String,
      out: Path, warmed: ArrayBuffer[Timed]): (Checked, Double) = {
    var chk: Checked = null
    val dt = timed { chk = w.check(spark, c, input, out.resolve("check").toString) }
    checkRecord(s"local[$nproc]", chk)
    warmed += dt
    (chk, WarmS - dt.s)
  }

  def endToEnd(a: Args, w: Workload, out: Path): Map[String, Any] = {
    val off = new Tracer(false)
    val warm = ArrayBuffer.empty[Timed]
    var spark = session(nproc, out)
    val (c, input, setupS, deterministic, chk, tN) = try {
      val (c, input, setupS, deterministic) = setup(spark, a, w, out, 3)
      val (chk, warmS) = checkedWarmUp(spark, a, w, c, input, out, warm)
      val tN = loop(spark, w, input, out.resolve("work"), a.seconds * 0.4, 3, off, Some(warmS),
        warmed = warm)
      (c, input, setupS, deterministic, chk, tN)
    } finally spark.stop()
    spark = session(1, out)
    // the JVM is warm from the first phase; the median absorbs the new
    // session's slower first pass
    val t1 = try loop(spark, w, input, out.resolve("work"), a.seconds * 0.6, 1, off, None)
      finally spark.stop()
    val attempted = chk.attempted + 1
    val failed = chk.failed + (if (deterministic) 0 else 1)
    val mN = Stats.median(tN.map(_.s))
    val m1 = Stats.median(t1.map(_.s))
    val dps = c.docs / mN
    val dps1 = c.docs / m1
    def both(ts: Seq[Timed]) = ListMap("s" -> ts.map(_.s), "wall" -> ts.map(_.wall))
    record("passes", ListMap("setup_s" -> both(setupS), "warm_up_s" -> both(warm.toSeq),
      s"local[$nproc]_s" -> both(tN), "local[1]_s" -> both(t1),
      "fail_frac" -> failed.toDouble / attempted))
    def m(v: Double, unit: String) = ListMap("value" -> v, "unit" -> unit)
    ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(
        "setup_s" -> m(Stats.median(setupS.map(_.s)), "s"),
        "docs_per_s" -> m(dps, "1/s"),
        "html_mb_per_s" -> m(c.htmlBytes / 1e6 / mN, "MB/s"),
        "docs_per_s_1t" -> m(dps1, "1/s"),
        "scaling_eff" -> m(dps / dps1 / nproc, "ratio"),
        "ok_frac" -> m(1.0 - failed.toDouble / attempted, "ratio"),
        "peak_rss_mb" -> m(peakRssMb(), "MB")))
  }

  /** units of the per-layer metrics; the traced run prints exactly these. */
  val LayerUnits: ListMap[String, String] = ListMap(
    "html.parse_mb_per_s" -> "MB/s", "html.parse_us_p50" -> "us", "html.parse_us_p99" -> "us",
    "html.nodes_per_doc" -> "count",
    "selector.compile_us" -> "us",
    "query.find_us_p50" -> "us", "query.find_us_p99" -> "us", "query.match_frac" -> "ratio",
    "query.main_select_us" -> "us", "query.mutate_us_p50" -> "us",
    "dom.text_utf8_mb_per_s" -> "MB/s", "dom.render_mb_per_s" -> "MB/s",
    "spark.scan_mb_per_s" -> "MB/s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio", "spark.write_s" -> "s", "spark.lineage_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_frac" -> "ratio",
    "spark.gc_frac" -> "ratio",
    "graph.links_s" -> "s", "graph.pagerank_s" -> "s", "graph.components_s" -> "s",
    "graph.pagerank_dist_s" -> "s", "graph.components_dist_s" -> "s",
    "graph.edges" -> "count",
    "trace.docs_per_s_untraced" -> "1/s", "trace.docs_per_s_traced" -> "1/s",
    "trace.overhead_frac" -> "ratio")

  def traced(a: Args, w: Workload, out: Path): Map[String, Any] = {
    val t = new Tracer(true)
    val off = new Tracer(false)
    val part = a.seconds * 0.3
    val spark = session(nproc, out)
    val listener = new SparkTrace(t)
    val vals = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (c, input, _, deterministic) = try setup(spark, a, w, out, 1) catch {
      case e: Throwable => spark.stop(); throw e
    }
    val chk = try {
      val (chk, warmS) = checkedWarmUp(spark, a, w, c, input, out, ArrayBuffer.empty)
      // untraced and traced passes alternate, so JIT warm-up and machine
      // noise fall on both alike; only traced passes have the listener
      val passes = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
      val untraced = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[Double]
      var k = 0
      val start = System.nanoTime()
      while (k < 6 || secs(start) < 2 * part) {
        val on = k % 2 == 1
        if (on) spark.sparkContext.addSparkListener(listener)
        val ts = loop(spark, w, input, out.resolve("work"), 0, 1, if (on) t else off,
          if (k == 0) Some(warmS) else None, traceBase = 1000000 + 1000 * k,
          onPass = (tr, s0, s1) => if (on) passes(tr) = (s0, s1))
        if (on) {
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          traced ++= ts.map(_.s)
        } else untraced ++= ts.map(_.s)
        k += 1
      }
      vals ++= listener.passMetrics(passes.toMap, nproc)
      // graph phases: median per traced pass of each graph span
      Seq("graph.links", "graph.pagerank", "graph.components").foreach { n =>
        val ds = t.all.filter(s => s.name == n && passes.contains(s.trace)).map(s => (s.endUs - s.startUs) / 1e6)
        vals(n + "_s") = if (ds.isEmpty) 0.0 else Stats.median(ds)
      }
      // scan ceiling: read every html byte and nothing else
      val scan = (1 to 3).map { _ =>
        timed(spark.read.parquet(input).agg(sum(octet_length(col("html")))).head()).s
      }
      vals("spark.scan_mb_per_s") = c.htmlBytes / 1e6 / Stats.median(scan)
      val du = c.docs / Stats.median(untraced)
      val dt = c.docs / Stats.median(traced)
      vals("trace.docs_per_s_untraced") = du
      vals("trace.docs_per_s_traced") = dt
      vals("trace.overhead_frac") = 1.0 - dt / du
      vals("graph.edges") = chk.counts.getOrElse("edges", 0.0)
      if (w eq CrawlGraphW) {
        // the path graphs over the driver budgets take, forced: timed and checked
        t.trace = 2000000
        val d = CrawlGraphW.checkRun(spark, c, input, distributed = true, t)
        checkRecord("distributed graph path", d)
        Seq("graph.pagerank_dist", "graph.components_dist").foreach { n =>
          vals(n + "_s") = t.all.filter(_.name == n).map(s => (s.endUs - s.startUs) / 1e6).sum
        }
        Checked(chk.attempted + d.attempted, chk.failed + d.failed, chk.notes ++ d.notes)
      } else chk
    } finally spark.stop()
    vals ++= Probes.run(c, t, part)
    t.write(out.resolve("spans.jsonl"))
    record("self_time_ms", ListMap.from(t.selfTimes().toSeq.sortBy(-_._2._2).map {
      case (k, (n, ms)) => k -> ListMap("spans" -> n, "self_ms" -> ms)
    }))
    val failed = chk.failed + (if (deterministic) 0 else 1)
    ListMap(
      "correct" -> (failed == 0),
      "attempted" -> (chk.attempted + 1),
      "failed" -> failed,
      "metrics" -> ListMap.from(LayerUnits.map { case (k, u) =>
        k -> ListMap("value" -> vals.getOrElse(k, 0.0), "unit" -> u)
      }))
  }
}
