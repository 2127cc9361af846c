package graft
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each `SparkEntry.queryTable` body's result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/compare.py`).
  *
  * The run records itself: `<out>/summary.json` maps each query to
  * `{rows, schema, sha, seconds, path}` — row count and schema read back
  * from the written parquet, a SHA-256 over its rows in file order, the
  * query's wall seconds (run + write) and the output directory — or to
  * `{error, seconds, path}` when the query failed. The last stdout line is
  * one JSON object: `{"verify": {"queries", "ok", "failed", "seconds",
  * "summary"}}`.
  *
  * An old summary.json is deleted at start, and each query's output dir
  * before that query runs, so a query that fails never leaves an earlier
  * run's parquet for the compare to read.
  *
  * Usage: `graft.Verify <sfDir> <outDir>`; `SPARK_GRAFT_CPUS` sets the
  * local[N] width (default 4). */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** a deterministic rendering of one value for the digest (binary as
    * hex: `Array[Byte].toString` is an identity hash). */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => java.util.HexFormat.of().formatHex(b)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => render(k) + "->" + render(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** (rows, schema DDL, sha256 hex) of a written parquet dir, rows in file
    * order (every output is coalesced to one file). */
  private def digest(spark: SparkSession, path: String): (Long, String, String) = {
    val df = spark.read.parquet(path)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var rows = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      md.update(render(it.next()).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
      rows += 1
    }
    (rows, df.schema.toDDL, java.util.HexFormat.of().formatHex(md.digest()))
  }

  private def seconds(since: Long): Double =
    ((System.nanoTime() - since) / 1e6).round / 1e3

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val summaryPath = s"$outDir/summary.json"
    Files.deleteIfExists(Paths.get(summaryPath))
    val t0 = System.nanoTime()
    var failed = 0
    val summary = SparkEntry.queryTable.map { spec =>
      val name = spec.name
      val path = s"$outDir/$name"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val start = System.nanoTime()
      val entry = try {
        spec.body(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
        val took = seconds(start)
        val (rows, schema, sha) = digest(spark, path)
        s"""{"rows": $rows, "schema": ${q(schema)}, "sha": "$sha", "seconds": $took, "path": ${q(path)}}"""
      } catch {
        // NonFatal ONLY: after an OOM/StackOverflow the JVM is in an
        // undefined state and later queries could emit silently-wrong
        // parquet — crash loudly instead. A per-query NonFatal failure is
        // reported and leaves that query's output missing, which the
        // driver's compare records as a red row (never a silent pass).
        case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          s"""{"error": ${q(String.valueOf(e.getMessage))}, "seconds": ${seconds(start)}, "path": ${q(path)}}"""
      }
      s"${q(name)}: $entry"
    }
    if (failed > 0) System.err.println(s"[verify] $failed quer${if (failed == 1) "y" else "ies"} failed")
    val json = SparkEntry.queryTable
      .map(spec => s"${q(spec.name)}: ${q(spec.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(summaryPath), summary.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
    println(s"""{"verify": {"queries": ${summary.length}, "ok": ${summary.length - failed}, "failed": $failed, """ +
      s""""seconds": ${seconds(t0)}, "summary": ${q(summaryPath)}}}""")
  }
}
