package graft.spark

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] must be invisible in what it writes: every file,
  * `.crc` sidecar, directory and `_SUCCESS` marker gets the permissions the
  * default `file:` file system gives it, under the default umask and under a
  * stricter one; a sticky bit still reaches the file system through the
  * fallback. A JFR recording of `jdk.ProcessStart` shows the point of it:
  * `ExtractJob.run` forks no `chmod`, while a default-FS partitioned write
  * does. Also here: the guarded main-content entry turns a stack overflow
  * into a null row. */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: File = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-nio-fs-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("nio-fs").toFile.getCanonicalFile
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def fresh(name: String): String = {
    val d = new File(dir, name)
    assert(!d.exists)
    d.getPath
  }

  private val umasks = Seq(None, Some("027"))
  private val nioOptions = NioLocalFileSystem.WriteOptions
  // the default `file:` file system, uncached so the write's umask
  // reaches it
  private val stockOptions = Map("fs.file.impl.disable.cache" -> "true")

  /** relative path → `rwxr-x---` for everything under `root`; the job
    * UUID in part-file names is dropped so two writes compare */
  private def permTree(root: String): Map[String, String] = {
    val base = new File(root).toPath
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p: JPath =>
      val rel = base.relativize(p).toString.replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1")
      rel -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  test("Hadoop API: files, .crc sidecars and directories get the stock permissions") {
    for (umask <- umasks) {
      val trees = Seq("stock" -> stockOptions, "nio" -> nioOptions).map { case (side, opts) =>
        val conf = new Configuration()
        opts.foreach { case (k, v) => conf.set(k, v) }
        umask.foreach(conf.set("fs.permissions.umask-mode", _))
        val root = fresh(s"api-${umask.getOrElse("default")}-$side")
        val fs = new Path(root).getFileSystem(conf)
        assert(fs.isInstanceOf[NioLocalFileSystem] == (side == "nio"))
        fs.mkdirs(new Path(root, "a/b"))
        val out = fs.create(new Path(root, "a/b/data.bin"))
        out.write(Array.tabulate[Byte](1000)(_.toByte))
        out.close()
        fs.mkdirs(new Path(root, "m"), new FsPermission("711"))
        fs.create(new Path(root, "m/private.bin"), new FsPermission("600"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.create(new Path(root, "explicit.bin")).close()
        fs.setPermission(new Path(root, "explicit.bin"), new FsPermission("754"))
        permTree(root)
      }
      assert(trees(0) == trees(1), s"umask $umask")
      val t = trees(1)
      assert(t.contains("a/b/.data.bin.crc"))
      val (file, dir) = if (umask.isEmpty) ("rw-r--r--", "rwxr-xr-x") else ("rw-r-----", "rwxr-x---")
      assert(t("a/b/data.bin") == file && t("a/b/.data.bin.crc") == file)
      assert(t("a") == dir && t("a/b") == dir)
      assert(t("explicit.bin") == "rwxr-xr--")
    }
  }

  private def pages(n: Int): DataFrame =
    spark.range(0, n, 1, 2).select(
      (col("id") % 5).cast("int").as("bucket"),
      concat(lit("page "), col("id")).as("text"))

  // ExtractJob's two write shapes: a dynamic partition overwrite (the
  // extracted table; its `_SUCCESS` stays in the discarded staging
  // directory) and a plain write (the lineage table)
  test("Spark write: bucket directories, part files, .crc and _SUCCESS get the stock permissions") {
    for (umask <- umasks; dynamic <- Seq(true, false)) {
      val trees = Seq("stock" -> stockOptions, "nio" -> nioOptions).map { case (side, opts) =>
        val out = fresh(s"spark-${umask.getOrElse("default")}-$dynamic-$side")
        val w = pages(40).write
          .options(opts ++ umask.map("fs.permissions.umask-mode" -> _))
          .partitionBy("bucket")
        if (dynamic) w.option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(out)
        else w.parquet(out)
        permTree(out)
      }
      assert(trees(0) == trees(1), s"umask $umask dynamic $dynamic")
      val t = trees(1)
      assert((0 until 5).forall(b => t.contains(s"bucket=$b")))
      assert(t.keys.exists(k => k.startsWith("bucket=0/.part-") && k.endsWith(".crc")))
      val (file, dir) = if (umask.isEmpty) ("rw-r--r--", "rwxr-xr-x") else ("rw-r-----", "rwxr-x---")
      assert(t("bucket=0") == dir)
      if (!dynamic) {
        assert(t.contains("._SUCCESS.crc"))
        assert(t("_SUCCESS") == file)
      }
    }
  }

  test("a sticky bit reaches the file system through the fallback") {
    val conf = new Configuration()
    nioOptions.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(fresh("sticky"))
    val fs = p.getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    fs.mkdirs(p)
    fs.setPermission(p, new FsPermission("1750"))
    val mode = Files.getAttribute(new File(p.toUri.getPath).toPath, "unix:mode").asInstanceOf[Int]
    assert((mode & 0x3ff) == Integer.parseInt("1750", 8), Integer.toOctalString(mode))
  }

  /** `chmod` processes started while `body` ran whose command names a
    * path under `root` (an in-process JFR recording of `jdk.ProcessStart`) */
  private def chmodForks(root: String)(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile(dir.toPath, "procs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.count { e =>
        val cmd = e.getString("command")
        cmd != null && cmd.contains("chmod") && cmd.contains(root)
      }
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("JFR: a default-FS partitioned write forks chmod (the probe sees forks)") {
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "with libhadoop the stock file system sets permissions without a fork")
    val out = fresh("probe")
    val forks = chmodForks(out)(pages(40).write.partitionBy("bucket").parquet(out))
    assert(forks >= 1)
  }

  test("JFR: ExtractJob.run forks no chmod") {
    val out = fresh("job")
    val input = spark.range(0, 200, 1, 4).select(
      concat(lit("https://nio.example/page/"), col("id")).as("url"),
      timestamp_seconds(col("id") + 1735689600L).as("warc_ts"),
      encode(concat(lit("<main><p>body "), col("id"), lit("</p></main>")), "UTF-8").as("html"))
    val forks = chmodForks(out)(ExtractJob.run(spark, input, out, ExtractJob.Config(buckets = 16)))
    assert(forks == 0)
    val extracted = new File(out, "extracted")
    assert(extracted.list().count(_.startsWith("bucket=")) == 16)
    assert(new File(out, "lineage").isDirectory)
    assert(spark.read.parquet(s"$out/extracted").count() == 200)
  }

  test("guarded main-content entry: a stack overflow on a deep page is a null row") {
    // close to the parser's 2048-level cap, so the recursive strip walk
    // is about as deep as it can get
    val depth = 2000
    val html = ("<html><body><main>" + "<div>" * depth + "deep" + "</div>" * depth +
      "</main></body></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // on a default stack the page extracts; the repetitions get the walk
    // JIT-compiled, whose smaller frames are the harder case to overflow
    for (_ <- 0 until 300) {
      assert(Extractor.extractMainOrNull(html, Extractor.Recipe.default) == "deep")
      assert(Extractor.extractMainCodegen(html).toString == "deep")
    }

    // Try lets a StackOverflowError through: catch everything here
    def attempt(f: => AnyRef): Either[Throwable, AnyRef] =
      try Right(f) catch { case t: Throwable => Left(t) }
    val got = new Array[Either[Throwable, AnyRef]](4)
    val small = new Thread(null, () => {
      got(0) = attempt(Extractor.extractMain(html, Extractor.Recipe.default))
      got(1) = attempt(Extractor.extractMainOrNull(html, Extractor.Recipe.default))
      got(2) = attempt(Extractor.extractMainCodegen(html))
      got(3) = attempt(Extractor.extractMainOrNull("<main>ok</main>".getBytes, Extractor.Recipe.default))
    }, "small-stack", 128L << 10)
    small.start()
    small.join()
    // the page does overflow this stack ...
    assert(got(0).left.exists(_.isInstanceOf[StackOverflowError]), got(0))
    // ... and both callers of the guarded entry get a null row instead
    assert(got(1) == Right(null))
    assert(got(2) == Right(null))
    // and the thread's arena still serves its next row
    assert(got(3) == Right("ok"))
  }
}
