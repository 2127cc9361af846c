package graft

import graft.spark.Extractor

/** Spark-free scaling probe: run the extraction engine over in-memory pages
  * on k raw threads to separate engine scalability from Spark-side effects. */
object ThreadBench {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import spark.implicits._
    // INTENTIONAL driver-side collect: this is the Spark-FREE engine
    // micro-harness — the corpus must live in local arrays so raw threads
    // measure the tokenizer alone. Bounded: sf0.1 amplified = ~924 MB.
    val pages = graft.spark.PagesGen.amplified(spark, sfDir, 30,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DENSE", "5").toInt)
      .map(_.html).collect()
    spark.stop()
    val bytes = pages.map(_.length.toLong).sum
    println(s"pages=${pages.length} bytes=$bytes")
    // measures the PRODUCTION path — extractMainCodegen is the static entry
    // SQL extract_main calls on BINARY input (UTF-8 in, UTF-8 out);
    // extractMain(String-out) adds a UTF-16 materialization the SQL path
    // never pays (~13% per the round-3 JFR)
    def run(threads: Int): Double = {
      val t0 = System.nanoTime()
      val chunk = (pages.length + threads - 1) / threads
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var i = t * chunk
          val end = math.min(pages.length, i + chunk)
          var acc = 0L
          while (i < end) {
            val s = Extractor.extractMainCodegen(pages(i))
            if (s != null) acc += s.numBytes()
            i += 1
          }
          if (acc == -1) println("")
        })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    run(8) // warmup
    for (k <- Seq(1, 2, 4, 8, 16, 32)) {
      val s1 = run(k); val s2 = run(k)
      val sec = math.min(s1, s2)
      println(f"threads=$k%2d sec=$sec%.2f MBps=${bytes / sec / 1e6}%.0f")
    }
  }
}
