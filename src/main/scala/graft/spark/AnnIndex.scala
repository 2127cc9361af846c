package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** the persisted ANN index (the 100-TB probe path): build / append /
  * compact lifecycle, partition-pruned LSH + certificate-exact IVF probes,
  * probe-side metadata caches, and the cross-engine eval harnesses. See
  * [[TextOps]] and the layout comment below. */
private[spark] trait AnnIndexOps extends AnnCoreOps {
  // ---------- persisted ANN index (the 100-TB probe path) ----------
  //
  // annLsh / annIvfRecall recompute signatures over a full corpus scan per
  // query — fine as build-path witnesses, a non-starter at 100 TB. The
  // production shape is write-once/probe-many: signatures and IVF list ids
  // become PARTITION COLUMNS of a persisted parquet index, so a probe is a
  // partition-pruned read of O(probes) buckets, not a corpus pass.
  //
  // Layout under `indexDir` (v5):
  //   meta/       1 row: planes, tables, nlist, n, version — the TRAINING-
  //               time facts (planes / quantizer are fixed for the index's
  //               lifetime; retraining = rebuild)
  //   centroids/  nlist rows: list_id, centroid — IMMUTABLE after build
  //               (only the radii grow; splitting them out means no writer
  //               ever rewrites the quantizer, so no crash can destroy it)
  //   radii/      (list_id, radius, cnt) partitioned by batch: each ingest
  //               publishes ITS OWN batch's per-list max ||v̂ - c|| into
  //               its own partition (dynamic overwrite — idempotent on
  //               retry), and readers take max() per list over all
  //               batches. The merge is commutative and append-only, so
  //               concurrent appends cannot lose each other's maxima (the
  //               v3 read-modify-write of a shared radius column could).
  //               A batch's radii land BEFORE its data: a crash between
  //               the two leaves an OVER-estimate — the certificate scans
  //               extra lists, never misses one. cnt (v5) is the batch's
  //               per-list member count, sum-merged by readers — ADVISORY
  //               input to the radius-aware probe choice, never load-
  //               bearing for exactness.
  //   coarse/     (two-level builds only) cell centroid + contiguous
  //               fine-list span per coarse cell — the assignment-side
  //               structure; probes never read it.
  //   batches/    one row per ingested batch (batch, n_rows), partitioned
  //               by batch with dynamic overwrite — the idempotent commit
  //               record, same discipline as ExtractJob's lineage
  //   lsh/        one row per (tbl, vec_id): partitioned by (tbl, sigp,
  //               batch) — sigp = top <=8 bits of sig bounds directory
  //               fan-out to 256/table at any scale; row groups sorted by
  //               sig so the pushed-down sig IN (...) filter skips row
  //               groups
  //   ivf/        one row per vec_id, partitioned by (list_id, batch)
  //
  // `batch` is the GROWTH axis: a 100-TB pipeline ingests continuously, so
  // the index must accept new vectors without an overwrite-only rebuild
  // (the round-3 design gap). Each ingest lands in its own batch partition
  // via dynamic partition overwrite — re-running a failed append replaces
  // exactly its own partitions (exactly-once, like ExtractJob bucket
  // resume). Probes never filter on batch, so pruning on (tbl, sigp) /
  // list_id is unchanged.
  //
  // The vectors are stored inline in both sections (FAISS-style lists):
  // probe locality beats the 1+L storage multiplier — embeddings are a
  // small fraction of corpus bytes.

  // LOGICAL shift, matching the probes' `>>> shift` — an arithmetic shift
  // would sign-extend and diverge if a signature ever had its top bit set
  // (planes is capped at 24 below, so sigs stay positive; belt and braces)
  private def sigPrefix(planes: Int) = (sig: Column) =>
    shiftrightunsigned(sig, math.max(0, planes - 8)).as("sigp")

  /** per-list (max member-to-centroid distance, member count) from an
    * assignment frame with (list_id, cdist) columns; lists with no members
    * get radius 0 / count 0. The counts feed the radius-aware initial
    * probe choice (v5) — they are ADVISORY (a crashed append may leave an
    * over-count), the certificate stays the exactness authority. */
  private[spark] def collectRadii(assigned: DataFrame, nlist: Int): (Array[Double], Array[Long]) = {
    val radii = new Array[Double](nlist)
    val counts = new Array[Long](nlist)
    assigned.groupBy(col("list_id"))
      .agg(max(col("cdist")).as("r"), count(lit(1)).as("cnt"))
      .collect().foreach { r =>
        radii(r.getInt(0)) = r.getDouble(1)
        counts(r.getInt(0)) = r.getLong(2)
      }
    (radii, counts)
  }

  /** publish one batch's per-list radii + member counts into its own
    * `batch=` partition (see the layout comment: append-only; readers
    * max-merge radii and sum-merge counts). */
  private def writeRadiiBatch(spark: SparkSession, indexDir: String, batchId: String,
      rc: (Array[Double], Array[Long]), overwriteAll: Boolean): Unit = {
    val (radii, counts) = rc
    val w = spark.createDataFrame(radii.indices.map(i => (i, radii(i), counts(i))))
      .toDF("list_id", "radius", "cnt").withColumn("batch", lit(batchId))
      .coalesce(1)
      .write.mode("overwrite").partitionBy("batch")
    (if (overwriteAll) w else w.option("partitionOverwriteMode", "dynamic"))
      .parquet(s"$indexDir/radii")
  }

  /** a directory's content fingerprint (paths + lengths + mtimes) — the
    * cheap no-Spark-job invalidation check for the probe-side caches. */
  private def dirFingerprint(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    var h = 1125899906842597L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      h = h * 31 + f.getPath.toString.hashCode
      h = h * 31 + f.getLen
      h = h * 31 + f.getModificationTime
    }
    h
  }

  // probe-side driver caches: a probe service holds the quantizer in
  // memory — re-running three Spark jobs (centroids, radii, meta) per
  // single-query probe was the dominant probe cost, not the scan. Keyed
  // by indexDir, invalidated by the content fingerprint of the backing
  // files (an append rewrites radii partitions; a rebuild rewrites
  // everything) — so correctness never rests on the cache.
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Array[Float]])]()
  private val radiiCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, (Array[Double], Array[Long]))]()
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, (Int, Int, Int, Long, Int))]()

  // probe-side resolved-scan cache: spark.read.parquet pays partition
  // discovery + schema inference per call (~0.5 s against a 45-partition
  // index dir — more than the pruned scan itself). The resolved DataFrame
  // (its InMemoryFileIndex) is reusable across probes; invalidation is the
  // batches/ commit-record fingerprint (every data-changing operation —
  // build, append, compact — writes it last), and the entry is keyed by
  // session so a stopped test session never leaks a dead plan into a new
  // one. Probes only — maintenance ops (append/compact) read directly.
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  /** read-through caches stay BOUNDED: past the cap the whole map clears
    * (entries are pure derivations — a clear only costs re-reads). Keeps
    * a long-lived driver that cycles sessions / probes many index dirs
    * from accumulating dead plans forever. */
  private def putBounded[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
      k: String, v: V, cap: Int = 64): Unit = {
    if (m.size >= cap) m.clear()
    m.put(k, v)
    ()
  }

  private[spark] def indexFrame(spark: SparkSession, indexDir: String, section: String): DataFrame = {
    val key = s"${System.identityHashCode(spark)}/$indexDir/$section"
    val fp = dirFingerprint(spark, s"$indexDir/batches")
    val hit = frameCache.get(key)
    if (hit != null && hit._1 == fp) return hit._2
    val df = spark.read.option("ignoreMissingFiles", "true").parquet(s"$indexDir/$section")
    putBounded(frameCache, key, (fp, df))
    df
  }

  /** cached meta read: (planes, tables, nlist, n, version). */
  private[spark] def readMeta(spark: SparkSession, indexDir: String): (Int, Int, Int, Long, Int) = {
    val fp = dirFingerprint(spark, s"$indexDir/meta")
    val hit = metaCache.get(indexDir)
    if (hit != null && hit._1 == fp) return hit._2
    val m = spark.read.parquet(s"$indexDir/meta").head()
    val v = (m.getAs[Int]("planes"), m.getAs[Int]("tables"), m.getAs[Int]("nlist"),
      m.getAs[Long]("n"), m.getAs[Int]("version"))
    putBounded(metaCache, indexDir, (fp, v))
    v
  }

  /** the centroid table read — IMMUTABLE after build (only radii change
    * across appends), so its cache entry survives the whole index
    * lifetime: an append or probe after build re-reads RADII, never the
    * centroids (the r6 combined quantizer cache keyed on centroids+radii
    * fingerprints re-collected both on every radii change — one extra
    * Spark job per append/compact/post-append probe). */
  private[spark] def readCentroids(spark: SparkSession, indexDir: String): Array[Array[Float]] = {
    import spark.implicits._
    val fp = dirFingerprint(spark, s"$indexDir/centroids")
    val hit = centroidCache.get(indexDir)
    if (hit != null && hit._1 == fp) return hit._2
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("list_id").as[Int], col("centroid").as[Seq[Float]])
      .collect().sortBy(_._1).map(_._2.toArray)
    putBounded(centroidCache, indexDir, (fp, cents))
    cents
  }

  /** the probe-side quantizer read: immutable centroids + per-list radii
    * as max() and counts as sum() over every published batch partition
    * (commutative merges, performed in the DRIVER over the collected
    * per-batch rows — nlist*batches rows, no shuffle). Lists never
    * populated keep radius 0 / count 0. Cached per indexDir behind file
    * fingerprints (centroids and radii independently — see
    * [[readCentroids]]). */
  private[spark] def readQuantizer(spark: SparkSession,
      indexDir: String): (Array[Array[Float]], Array[Double], Array[Long]) = {
    import spark.implicits._
    val cents = readCentroids(spark, indexDir)
    val fp = dirFingerprint(spark, s"$indexDir/radii")
    val hit = radiiCache.get(indexDir)
    if (hit != null && hit._1 == fp && hit._2._1.length == cents.length)
      return (cents, hit._2._1, hit._2._2)
    val radii = new Array[Double](cents.length)
    val counts = new Array[Long](cents.length)
    // ignoreMissingFiles: a concurrent compaction's step-4 cleanup may
    // delete a superseded radii batch file mid-read; the compacted batch's
    // tight radii landed first and max-merge keeps correctness, same
    // argument as the lsh/ivf probe scans
    val radiiDf = spark.read.option("ignoreMissingFiles", "true").parquet(s"$indexDir/radii")
    // a radii table with no cnt column at all is a pre-v5 index: fail
    // with appendAnnIndex's rebuild error, not an unresolved column
    require(radiiDf.columns.contains("cnt"),
      s"index at $indexDir predates v$AnnIndexVersion — rebuild before probing")
    radiiDf
      // coalesce: a radii batch file without cnt inside a table whose
      // schema has it reads cnt as null; a 0 count only shrinks the
      // advisory bound, never breaks exactness
      .select(col("list_id").as[Int], col("radius").as[Double],
        coalesce(col("cnt"), lit(0L)).as[Long])
      .collect().foreach { case (l, r, c) =>
        if (r > radii(l)) radii(l) = r
        counts(l) += c
      }
    putBounded(radiiCache, indexDir, (fp, (radii, counts)))
    (cents, radii, counts)
  }

  /** two-level quantizer training for nlist > [[DriverFitMaxNlist]] —
    * nothing super-linear ever runs on the driver:
    *   1. a coarse codebook of k1 = ceil(sqrt(nlist)) cells trains on the
    *      driver from a 64·k1 sample (k1 <= ~363 at the nlist clamp — a
    *      triviality);
    *   2. the full 64·nlist training sample stays DISTRIBUTED: each
    *      vector maps to its coarse cell, and each cell's fine codebook
    *      of ~nlist/k1 centroids trains executor-side over that cell's
    *      members (flatMapSortedGroups by vec_id + a deterministic cap,
    *      so builds stay reproducible);
    *   3. the flat codebook is the concatenation of the per-cell fine
    *      codebooks — cells keep CONTIGUOUS list-id spans, which is what
    *      makes two-level assignment a span scan.
    * Cells the sample never hit get no lists (their would-be members
    * assign into neighboring cells' lists — radius widens, exactness
    * holds). Driver state: the final codebook, nlist x dim floats. */
  private def trainTwoLevel(spark: SparkSession, vecs: Dataset[(Long, Seq[Float])],
      n: Long, nlist: Int): TwoLevelQuantizer = {
    import spark.implicits._
    val k1 = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val k2 = math.ceil(nlist.toDouble / k1).toInt
    val coarseCents = kmeansCentroids(
      sampleVectors(vecs, n, quantizerSampleSize(n, k1)), k1)
    val cb = spark.sparkContext.broadcast(coarseCents)
    val stride = math.max(1L, n / math.max(1L, 64L * nlist))
    val perCell: Array[(Int, Seq[Seq[Float]])] = vecs
      .filter(t => math.floorMod(mix64(t._1), stride) == 0L)
      .map { case (id, v) => (nearestCentroid(l2normalize(v), cb.value), id, v) }
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2")) { (cell: Int, it: Iterator[(Int, Long, Seq[Float])]) =>
        // deterministic member order (sorted by vec_id) + cap: executor
        // memory stays bounded even under a pathologically hot cell
        val members = it.take(64 * k2).map(x => l2normalize(x._3): Seq[Float]).toArray
        if (members.isEmpty) Iterator.empty
        else Iterator.single(
          (cell, kmeansCentroids(members.map(_.toArray), k2).map(_.toSeq).toSeq))
      }.collect().sortBy(_._1)
    val starts = new Array[Int](perCell.length)
    val lens = new Array[Int](perCell.length)
    val flat = Array.newBuilder[Array[Float]]
    var at = 0
    perCell.zipWithIndex.foreach { case ((cellId, fine), i) =>
      starts(i) = at
      lens(i) = fine.length
      fine.foreach(c => flat += c.toArray)
      at += fine.length
    }
    // the persisted coarse table keeps only cells WITH lists, re-indexed
    // densely — assignment scans their spans, original cell ids are moot
    TwoLevelQuantizer(perCell.map(pc => cb.value(pc._1)), starts, lens, flat.result())
  }

  /** assignment-side quantizer for append/compact: flat centroids plus the
    * coarse table when the index was built two-level. Reads ONLY the
    * immutable tables — never the radii (the r6 version went through
    * readQuantizer and paid a radii collect per append/compact that
    * assignment never used). */
  private def readAssignQuantizer(spark: SparkSession, indexDir: String): AnnQuantizer = {
    import spark.implicits._
    val cents = readCentroids(spark, indexDir)
    val coarsePath = new org.apache.hadoop.fs.Path(s"$indexDir/coarse")
    val fs = coarsePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(coarsePath)) FlatQuantizer(cents)
    else {
      val rows = spark.read.parquet(s"$indexDir/coarse")
        .select(col("cell_id").as[Int], col("centroid").as[Seq[Float]],
          col("list_start").as[Int], col("list_len").as[Int])
        .collect().sortBy(_._1)
      TwoLevelQuantizer(rows.map(_._2.toArray), rows.map(_._3), rows.map(_._4), cents)
    }
  }

  /** row-count ceiling for the lifecycle ops' driver fast path: a batch at
    * or under this size (64k vectors ≈ 16-64 MB at typical dims) computes
    * its signatures / assignments / radii on the driver after ONE collect
    * instead of scheduling count + sample + aggregate jobs plus the
    * repartition exchanges of the distributed writer — the same
    * small-input escape as [[CrawlGraphOps.DriverGraphEdgeBudget]]. The
    * written index is IDENTICAL (same per-row sig/assignment math, same
    * quantizer from the same deterministic sample, same layout and radii),
    * so probes cannot tell the paths apart; batches over budget take the
    * distributed path unchanged — the 100-TB shape. */
  final val AnnDriverVecBudget: Int = 1 << 16

  /** one-job small-batch collect: Some(rows) when `vecs` holds at most
    * `budget` rows (CollectLimit stops reading partitions once budget+1
    * rows are found, so an over-budget corpus pays a sliver, not a scan);
    * None → caller runs the distributed path. */
  private def collectIfSmall(vecs: Dataset[(Long, Seq[Float])],
      budget: Int): Option[Array[(Long, Seq[Float])]] = {
    if (budget <= 0) return None
    val head = vecs.limit(budget + 1).collect()
    if (head.length <= budget) Some(head) else None
  }

  /** driver-side [[indexRows]] + [[collectRadii]] for a collected batch:
    * the same per-row math (hyperplane sig per table over the raw vector,
    * l2-normalized nearest-centroid assignment, per-list max distance and
    * member count), so the persisted rows equal the distributed writer's. */
  private def localIndexRows(head: Array[(Long, Seq[Float])], planes: Int,
      quant: AnnQuantizer): (Array[(Long, Seq[Float], Int, Int, Int)],
      Array[(Long, Seq[Float], Int)], (Array[Double], Array[Long])) = {
    val shift = math.max(0, planes - 8)
    val lsh = new Array[(Long, Seq[Float], Int, Int, Int)](head.length * LshTables)
    val ivf = new Array[(Long, Seq[Float], Int)](head.length)
    val radii = new Array[Double](quant.cents.length)
    val counts = new Array[Long](quant.cents.length)
    var i = 0
    while (i < head.length) {
      val (id, v) = head(i)
      var t = 0
      while (t < LshTables) {
        val sig = hyperplaneSig(v, planes, t)
        lsh(i * LshTables + t) = (id, v, t, sig, sig >>> shift)
        t += 1
      }
      val nv = l2normalize(v)
      val c = quant.assign(nv)
      ivf(i) = (id, v, c)
      val d = math.sqrt(dist2(nv, quant.cents(c)))
      if (d > radii(c)) radii(c) = d
      counts(c) += 1
      i += 1
    }
    (lsh, ivf, (radii, counts))
  }

  /** [[writeIndexBatch]] for a driver-resident batch: each section writes
    * from a pre-sorted single-partition local relation — no repartition
    * exchange, one file per touched partition dir, same directory layout
    * and same (tbl, sigp, sig) row order as the distributed writer. The
    * lsh and ivf writes still run concurrently; the commit record still
    * lands strictly last. */
  private def lshWriteLocal(spark: SparkSession, indexDir: String, batchId: String,
      lshRows: Array[(Long, Seq[Float], Int, Int, Int)], overwriteAll: Boolean): () => Unit =
    () => {
      import spark.implicits._
      val lshW = lshRows.sortBy(r => (r._3, r._5, r._4)).toSeq
        .toDF("vec_id", "embedding", "tbl", "sig", "sigp")
        .withColumn("batch", lit(batchId))
        .coalesce(1)
        .write.mode("overwrite").partitionBy("tbl", "sigp", "batch")
      (if (overwriteAll) lshW else lshW.option("partitionOverwriteMode", "dynamic"))
        .parquet(s"$indexDir/lsh")
    }

  private def ivfWriteLocal(spark: SparkSession, indexDir: String, batchId: String,
      ivfRows: Array[(Long, Seq[Float], Int)], overwriteAll: Boolean): () => Unit =
    () => {
      import spark.implicits._
      val ivfW = ivfRows.sortBy(_._3).toSeq
        .toDF("vec_id", "embedding", "list_id")
        .withColumn("batch", lit(batchId))
        .coalesce(1)
        .write.mode("overwrite").partitionBy("list_id", "batch")
      (if (overwriteAll) ivfW else ivfW.option("partitionOverwriteMode", "dynamic"))
        .parquet(s"$indexDir/ivf")
    }

  /** the idempotent commit record — strictly last on every path. */
  private def writeBatchesRecord(spark: SparkSession, indexDir: String,
      batchId: String, nRows: Long, overwriteAll: Boolean): Unit = {
    val batchesW = spark.createDataFrame(Seq((batchId, nRows))).toDF("batch", "n_rows")
      .coalesce(1)
      .write.mode("overwrite").partitionBy("batch")
    (if (overwriteAll) batchesW else batchesW.option("partitionOverwriteMode", "dynamic"))
      .parquet(s"$indexDir/batches")
  }

  private def writeIndexBatchLocal(spark: SparkSession, indexDir: String,
      batchId: String, lshRows: Array[(Long, Seq[Float], Int, Int, Int)],
      ivfRows: Array[(Long, Seq[Float], Int)], nRows: Long,
      overwriteAll: Boolean): Unit = {
    inParallel(
      lshWriteLocal(spark, indexDir, batchId, lshRows, overwriteAll),
      ivfWriteLocal(spark, indexDir, batchId, ivfRows, overwriteAll))
    writeBatchesRecord(spark, indexDir, batchId, nRows, overwriteAll)
  }

  /** the (lsh rows, ivf rows with cdist) signature/assignment frames for a
    * vector set — ONE shared map shape for build and append. */
  private def indexRows(spark: SparkSession, vecs: Dataset[(Long, Seq[Float])],
      planes: Int, quant: AnnQuantizer): (DataFrame, DataFrame) = {
    import spark.implicits._
    val quantB = spark.sparkContext.broadcast(quant)
    val lsh = vecs.flatMap { case (id, v) =>
      (0 until LshTables).iterator.map(t => (id, v, t, hyperplaneSig(v, planes, t)))
    }.toDF("vec_id", "embedding", "tbl", "sig")
      .withColumn("sigp", sigPrefix(planes)(col("sig")))
    val ivf = vecs.map { case (id, v) =>
      val nv = l2normalize(v)
      val q = quantB.value
      val c = q.assign(nv)
      (id, v, c, math.sqrt(dist2(nv, q.cents(c))))
    }.toDF("vec_id", "embedding", "list_id", "cdist")
    (lsh, ivf)
  }

  /** run independent Spark actions from a small thread pool so the next
    * job's tasks back-fill executors freed by the current job's tail
    * (guide §2.6 — actions are only sequential because driver code calls
    * them sequentially); first failure rethrows after all complete. */
  private[spark] def inParallel(fs: (() => Unit)*): Unit = {
    if (fs.length <= 1) { fs.foreach(_.apply()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = fs.map { f =>
      new Thread(() => try f() catch { case t: Throwable => errs.add(t); () })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** write one batch's lsh/ivf rows. `overwriteAll = true` (initial build)
    * wipes the whole table; appends use DYNAMIC partition overwrite so only
    * this batch's own `... /batch=<id>` partitions are replaced. The lsh
    * and ivf writes target disjoint directories and run CONCURRENTLY
    * (guide §2.6) — the commit record still lands strictly last. */
  private def writeIndexBatch(indexDir: String, batchId: String,
      lsh: DataFrame, ivf: DataFrame, nRows: Long, overwriteAll: Boolean): Unit = {
    inParallel(
      () => {
        val lshW = lsh.withColumn("batch", lit(batchId))
          .repartition(col("tbl"), col("sigp"))
          .sortWithinPartitions(col("tbl"), col("sigp"), col("sig"))
          .write.mode("overwrite").partitionBy("tbl", "sigp", "batch")
        (if (overwriteAll) lshW else lshW.option("partitionOverwriteMode", "dynamic"))
          .parquet(s"$indexDir/lsh")
      },
      () => {
        val ivfW = ivf.drop("cdist").withColumn("batch", lit(batchId))
          .repartition(col("list_id"))
          .write.mode("overwrite").partitionBy("list_id", "batch")
        (if (overwriteAll) ivfW else ivfW.option("partitionOverwriteMode", "dynamic"))
          .parquet(s"$indexDir/ivf")
      })
    // commit record last: a batch row exists only once its data landed
    val sparkS = lsh.sparkSession
    val batchesW = sparkS.createDataFrame(Seq((batchId, nRows))).toDF("batch", "n_rows")
      .coalesce(1)
      .write.mode("overwrite").partitionBy("batch")
    (if (overwriteAll) batchesW else batchesW.option("partitionOverwriteMode", "dynamic"))
      .parquet(s"$indexDir/batches")
  }

  /** Build the persisted index (initial batch `b0`). Deterministic per
    * (embeddings, params): the caller controls `indexDir` lifetime. One
    * pass over the corpus computes both the L LSH signatures and the IVF
    * list id per vector. Quantizer sizing per the round-3 verdict:
    * nlist ~ sqrt(n) ([[nlistFor]]), a 64-samples-per-centroid training
    * sample ([[quantizerSampleSize]]), kmeans++ seeding — never again one
    * sample per centroid. Grow the index afterwards with
    * [[appendAnnIndex]]; retraining the quantizer = rebuild. */
  def buildAnnIndex(spark: SparkSession, emb: DataFrame, indexDir: String,
      planesOverride: Int = 0, nlistOverride: Int = 0,
      driverVecBudget: Int = AnnDriverVecBudget): Unit = {
    import spark.implicits._
    val vecsRaw = emb.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
    // small-batch driver fast path (see [[AnnDriverVecBudget]]): one
    // collect replaces the count + sample-collect + radii-aggregate jobs,
    // and the sections write from pre-sorted local relations. Only when the
    // quantizer is driver-fit anyway (nlist ≤ DriverFitMaxNlist — always
    // true for an in-budget batch unless nlistOverride forces the
    // two-level trainer, which stays distributed).
    collectIfSmall(vecsRaw, driverVecBudget) match {
      case Some(head) =>
        val nL = head.length.toLong
        require(nL > 0, "buildAnnIndex: empty embeddings frame — nothing to index " +
          "(the quantizer fit needs at least one vector)")
        val planesL = if (planesOverride > 0) planesOverride else planesFor(nL)
        require(planesL >= 1 && planesL <= 24,
          s"planes must be in [1, 24] (got $planesL): signatures are Int bit masks")
        val nlistL = if (nlistOverride > 0) nlistOverride else nlistFor(nL)
        if (nlistL <= DriverFitMaxNlist) {
          // the SAME deterministic sample membership as [[sampleVectors]]
          // (hash-stride filter, id-sorted; first-rows-by-id fallback)
          val target = quantizerSampleSize(nL, nlistL)
          val stride = math.max(1L, nL / target)
          val picked0 = head.filter(t => math.floorMod(mix64(t._1), stride) == 0L)
            .sortBy(_._1).map(x => l2normalize(x._2))
          val picked =
            if (picked0.nonEmpty) picked0
            else head.sortBy(_._1)
              .take(math.min(target, Int.MaxValue.toLong).toInt)
              .map(x => l2normalize(x._2))
          val quant = FlatQuantizer(kmeansCentroids(picked, nlistL))
          val cents = quant.cents
          val (lshRows, ivfRows, rc) = localIndexRows(head, planesL, quant)
          // on a BUILD every section write can run concurrently (guide
          // §2.6): the append-path radii-before-data ordering protects a
          // LIVE index from a crashed ingest, but a build target is not
          // probe-valid until its commit record lands (and ensureAnnIndex
          // publishes via temp + atomic rename) — only `batches` must
          // still land strictly last
          inParallel(
            () => spark.createDataFrame(Seq((planesL, LshTables, cents.length, nL, AnnIndexVersion)))
              .toDF("planes", "tables", "nlist", "n", "version")
              .write.mode("overwrite").parquet(s"$indexDir/meta"),
            () => spark.createDataFrame(cents.indices.map(i => (i, cents(i).toSeq)))
              .toDF("list_id", "centroid")
              .write.mode("overwrite").parquet(s"$indexDir/centroids"),
            // flat quantizer: a stale two-level coarse table must not
            // survive an in-place rebuild (see the distributed branch)
            () => deleteRecursively(s"$indexDir/coarse"),
            () => writeRadiiBatch(spark, indexDir, "b0", rc, overwriteAll = true),
            lshWriteLocal(spark, indexDir, "b0", lshRows, overwriteAll = true),
            ivfWriteLocal(spark, indexDir, "b0", ivfRows, overwriteAll = true))
          writeBatchesRecord(spark, indexDir, "b0", nL, overwriteAll = true)
          // write-through cache seed — identical to the distributed tail
          putBounded(metaCache, indexDir,
            (dirFingerprint(spark, s"$indexDir/meta"),
              (planesL, LshTables, cents.length, nL, AnnIndexVersion)))
          putBounded(centroidCache, indexDir,
            (dirFingerprint(spark, s"$indexDir/centroids"), cents))
          putBounded(radiiCache, indexDir,
            (dirFingerprint(spark, s"$indexDir/radii"), rc))
          return
        }
      case None => ()
    }
    val vecs = vecsRaw.persist()
    val n = vecs.count()
    require(n > 0, "buildAnnIndex: empty embeddings frame — nothing to index " +
      "(the quantizer fit needs at least one vector)")
    val planes = if (planesOverride > 0) planesOverride else planesFor(n)
    require(planes >= 1 && planes <= 24,
      s"planes must be in [1, 24] (got $planes): signatures are Int bit masks")
    val nlist = if (nlistOverride > 0) nlistOverride else nlistFor(n)
    val quant: AnnQuantizer =
      if (nlist <= DriverFitMaxNlist) {
        // driver fit: deterministic, bounded sample of >= 64 vectors per
        // centroid, fit on the unit sphere (see l2normalize)
        FlatQuantizer(kmeansCentroids(
          sampleVectors(vecs, n, quantizerSampleSize(n, nlist)), nlist))
      } else
        trainTwoLevel(spark, vecs, n, nlist)
    val cents = quant.cents

    val (lsh, ivf) = indexRows(spark, vecs, planes, quant)
    val ivfP = ivf.persist()
    // the three training-time tables (meta / centroids / coarse) target
    // disjoint dirs and are independent of the radii aggregate — run all
    // four concurrently (guide §2.6; the radii WRITE still lands before
    // any lsh/ivf data, preserving the crash-ordering certificate)
    var rc: (Array[Double], Array[Long]) = null
    inParallel(
      () => spark.createDataFrame(Seq((planes, LshTables, cents.length, n, AnnIndexVersion)))
        .toDF("planes", "tables", "nlist", "n", "version")
        .write.mode("overwrite").parquet(s"$indexDir/meta"),
      () => spark.createDataFrame(cents.indices.map(i => (i, cents(i).toSeq)))
        .toDF("list_id", "centroid")
        .write.mode("overwrite").parquet(s"$indexDir/centroids"),
      () => quant match {
        case TwoLevelQuantizer(coarse, starts, lens, _) =>
          spark.createDataFrame(
            coarse.indices.map(c => (c, coarse(c).toSeq, starts(c), lens(c))))
            .toDF("cell_id", "centroid", "list_start", "list_len")
            .write.mode("overwrite").parquet(s"$indexDir/coarse")
        case _ =>
          // an in-place rebuild over a previously TWO-LEVEL index must not
          // leave the stale coarse table behind: readAssignQuantizer
          // dispatches on its existence, and stale spans over the new
          // codebook would assign out of bounds
          deleteRecursively(s"$indexDir/coarse")
      },
      () => rc = collectRadii(ivfP, cents.length))
    writeRadiiBatch(spark, indexDir, "b0", rc, overwriteAll = true)
    writeIndexBatch(indexDir, "b0", lsh, ivfP, n, overwriteAll = true)
    ivfP.unpersist(false)
    vecs.unpersist(false)
    // write-through cache seed: this process already holds everything it
    // just wrote — the first probe then runs ZERO metadata jobs. Seeded
    // under the POST-write fingerprints, so any external change still
    // invalidates; correctness never rests on the seed.
    putBounded(metaCache, indexDir,
      (dirFingerprint(spark, s"$indexDir/meta"),
        (planes, LshTables, cents.length, n, AnnIndexVersion)))
    putBounded(centroidCache, indexDir,
      (dirFingerprint(spark, s"$indexDir/centroids"), cents))
    putBounded(radiiCache, indexDir,
      (dirFingerprint(spark, s"$indexDir/radii"), rc))
  }

  /** deterministic quantizer training sample, robust to ARBITRARY vec_id
    * spaces (sparse, offset, all-odd — subset builds are first-class now
    * that [[appendAnnIndex]] exists): membership is decided by
    * `mix64(vec_id)` falling in the stride's zero residue class, which
    * hashes ANY id distribution to a uniform ~target-sized sample — the
    * old `vec_id % stride == 0` filter returned an EMPTY sample whenever
    * the id space avoided the stride multiples (empty sample = driver
    * crash in seeding). Tiny-tail fallback: first `target` rows by id. */
  private[spark] def sampleVectors(vecs: Dataset[(Long, Seq[Float])], n: Long,
      target: Long): Array[Array[Float]] = {
    import vecs.sparkSession.implicits._
    val stride = math.max(1L, n / target)
    val picked = vecs.filter(t => math.floorMod(mix64(t._1), stride) == 0L)
      .collect().sortBy(_._1).map(x => l2normalize(x._2))
    if (picked.nonEmpty) picked
    else vecs.orderBy(col(vecs.columns.head)) // id col: "vec_id" or "_1" by caller shape
      .limit(math.min(target, Int.MaxValue.toLong).toInt)
      .collect().sortBy(_._1).map(x => l2normalize(x._2))
  }

  /** Append a new vector batch to an existing index — the 100-TB growth
    * path (a training corpus ingests continuously; overwrite-only rebuild
    * is a non-starter). Reuses the index's trained quantizer and planes
    * (meta/centroids), writes the batch's rows into its own `batch=<id>`
    * partitions via dynamic partition overwrite, so re-running a failed or
    * duplicated append for the same `batchId` is IDEMPOTENT (replaces
    * exactly its own partitions, exactly-once like ExtractJob's bucket
    * resume).
    *
    * Certificate safety on crash AND under concurrency: the batch's
    * per-list radii are published into the batch's OWN `radii/batch=`
    * partition BEFORE its data, and readers max-merge over all batches.
    * A crash between the two writes leaves an over-estimate (extra lists
    * scanned, none missed); two concurrent appends touch disjoint radii
    * partitions, so neither can lose the other's maxima — there is no
    * shared-state read-modify-write anywhere, and the centroids table is
    * never rewritten after build. */
  def appendAnnIndex(spark: SparkSession, emb: DataFrame, indexDir: String,
      batchId: String, driverVecBudget: Int = AnnDriverVecBudget): Unit = {
    import spark.implicits._
    require(batchId.nonEmpty && batchId.matches("[A-Za-z0-9._-]+"),
      s"batchId must be a safe partition value (got '$batchId')")
    // reserved names: overwriting the build batch or a compaction target
    // would REPLACE (not merge) its radii/data partitions — losing
    // vectors and shrinking published radii, which silently breaks the
    // exactness certificate
    require(batchId != "b0" && !batchId.startsWith("compacted-"),
      s"batchId '$batchId' is reserved (b0 = initial build, compacted-* = compaction targets)")
    val (planes, _, _, _, version) = readMeta(spark, indexDir)
    require(version == AnnIndexVersion,
      s"index at $indexDir predates v$AnnIndexVersion — rebuild before appending")
    val quant = readAssignQuantizer(spark, indexDir)

    val vecsRaw = emb.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])

    // the post-append radii cache seed (max radii, summed counts) applies
    // on both paths when the PRE-append radii were cached current — the
    // next probe's quantizer read becomes job-free (see buildAnnIndex)
    def seedMergedRadii(preHit: (Long, (Array[Double], Array[Long])), preFp: Long,
        rc: (Array[Double], Array[Long])): Unit =
      if (preHit != null && preHit._1 == preFp && preHit._2._1.length == rc._1.length) {
        val mergedR = Array.tabulate(rc._1.length)(l => math.max(preHit._2._1(l), rc._1(l)))
        val mergedC = Array.tabulate(rc._2.length)(l => preHit._2._2(l) + rc._2(l))
        putBounded(radiiCache, indexDir,
          (dirFingerprint(spark, s"$indexDir/radii"), (mergedR, mergedC)))
      }

    // small-batch driver fast path (see [[AnnDriverVecBudget]]): sig/
    // assignment/radii computed locally after one collect, sections write
    // from local relations — works for flat AND two-level quantizers
    // (quant.assign is the same driver code either way)
    collectIfSmall(vecsRaw, driverVecBudget) match {
      case Some(head) =>
        val (lshRows, ivfRows, rc) = localIndexRows(head, planes, quant)
        val preHit = radiiCache.get(indexDir)
        val preFp = dirFingerprint(spark, s"$indexDir/radii")
        // this batch's radii first (conservative on crash — see scaladoc)
        writeRadiiBatch(spark, indexDir, batchId, rc, overwriteAll = false)
        seedMergedRadii(preHit, preFp, rc)
        writeIndexBatchLocal(spark, indexDir, batchId, lshRows, ivfRows,
          rc._2.sum, overwriteAll = false)
        return
      case None => ()
    }

    val vecs = vecsRaw.persist()
    val (lsh, ivf) = indexRows(spark, vecs, planes, quant)
    val ivfP = ivf.persist()
    // this batch's radii first (conservative on crash — see scaladoc)
    val rc = collectRadii(ivfP, quant.cents.length)
    val preHit = radiiCache.get(indexDir)
    val preFp = dirFingerprint(spark, s"$indexDir/radii")
    writeRadiiBatch(spark, indexDir, batchId, rc, overwriteAll = false)
    seedMergedRadii(preHit, preFp, rc)
    // n_rows = Σ per-list counts — every vector assigns to exactly one
    // list, so the commit record needs no separate count() job (r6 ran one)
    writeIndexBatch(indexDir, batchId, lsh, ivfP, rc._2.sum, overwriteAll = false)
    ivfP.unpersist(false)
    vecs.unpersist(false)
  }

  /** Compact every ingested batch into one `batch=compacted-<epoch>`
    * partition set — the file-count hygiene pass after many appends (each
    * append adds one small file per touched (tbl,sigp) / list_id
    * directory; after ~10^3 batches small-file overhead dominates probe
    * I/O). Probes are unaffected semantically (they prune on (tbl,sigp) /
    * list_id, never batch).
    *
    * Implementation = RE-INGEST the deduped union of all vectors as one
    * batch through the exact build/append write path ([[indexRows]] +
    * [[writeRadiiBatch]] + [[writeIndexBatch]]) — one layout definition,
    * and the radii are recomputed TIGHT from the surviving rows (a
    * crashed append's over-estimating phantom partition is corrected
    * here, not preserved forever).
    *
    * Crash-safety without a transaction log: every step is individually
    * idempotent and every intermediate state is probe-correct —
    *   1. the target batch's tight radii land first (old radii partitions
    *      still present until step 4, and max-merge keeps their
    *      over-estimates in force exactly as long as their data exists),
    *   2. regenerated rows land in the target partitions via dynamic
    *      overwrite (vectors deduped on vec_id, so a previous crashed
    *      compaction's leftovers collapse),
    *   3. the commit record lands,
    *   4. the superseded batch partitions are deleted.
    * A crash between 2 and 4 leaves some vectors present in two batches:
    * harmless, because every probe dedups on vec_id (LSH probe scan, IVF
    * scanTopK, batch probe's (qid, vec_id)) and reads with
    * ignoreMissingFiles (a file deleted mid-scan by step 4 only ever
    * removes rows that already exist in the target partitions);
    * re-running the compaction finishes the cleanup. An append running
    * CONCURRENTLY in the same Spark application is safe: its new batch is
    * either folded in (read before the snapshot) or left untouched
    * (after) — only batches seen at snapshot time are deleted. Appends/
    * compactions from SEPARATE applications need external scheduling —
    * Spark's output-committer staging for one root path is keyed at
    * second granularity, so cross-application concurrent writes to the
    * same table root can collide in staging (true of any parquet table,
    * not specific to this layout). */
  def compactAnnIndex(spark: SparkSession, indexDir: String, epoch: String = "0",
      driverVecBudget: Int = AnnDriverVecBudget): Unit = {
    import spark.implicits._
    require(epoch.nonEmpty && epoch.matches("[A-Za-z0-9._-]+"),
      s"epoch must be a safe partition value (got '$epoch')")
    val target = s"compacted-$epoch"
    // batch ids are the `batch=<id>` PARTITION DIR names of the commit
    // table — a filesystem listing, not a Spark job (r6 ran a parquet scan
    // for a handful of directory names)
    val batchesPath = new org.apache.hadoop.fs.Path(s"$indexDir/batches")
    val batchesFs = batchesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = batchesFs.listStatus(batchesPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(n => java.net.URLDecoder.decode(n.substring("batch=".length), "UTF-8"))
      .filterNot(_ == target)
    if (old.isEmpty) return
    val (planes, _, _, _, version) = readMeta(spark, indexDir)
    val quant = readAssignQuantizer(spark, indexDir)

    // the union of every live vector (deduped below, per path)
    val vecsAll = spark.read.parquet(s"$indexDir/ivf")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]

    // size probe WITHOUT a CollectLimit: over a many-partition ivf table,
    // limit(budget+1) schedules up to 4 incremental scale-up jobs just to
    // learn the table is small. The per-list member counts (sum over every
    // published radii batch) upper-bound the raw row count — a crashed
    // append only OVER-counts — and are usually cache-seeded by the
    // preceding build/append (zero jobs; at worst one tiny radii read).
    // Within budget → one plain parallel collect of the small table. An
    // index older than v5 has no counts (read as 0, which bounds nothing):
    // its size is unknown, so it takes the distributed path — the same
    // version gate as appendAnnIndex.
    val approxRows =
      if (driverVecBudget > 0 && version == AnnIndexVersion) readQuantizer(spark, indexDir)._3.sum
      else Long.MaxValue
    val headOpt: Option[Array[(Long, Seq[Float])]] =
      if (approxRows <= driverVecBudget) Some(vecsAll.collect()) else None

    var rc: (Array[Double], Array[Long]) = null
    headOpt match {
      // small-index driver fast path (see [[AnnDriverVecBudget]]): the
      // collected rows sever the read→overwrite-same-path cycle without a
      // localCheckpoint job, and the target batch writes from local
      // relations — same steps 1.-3., same layout. The vec_id dedup runs
      // on the driver too (keep-first): duplicate rows are value-identical
      // re-ingests of the same vector (the crash-window contract), so any
      // keep choice — this one or dropDuplicates' — yields the same rows,
      // and the dedup exchange disappears. Collecting the RAW union only
      // tightens the budget check (raw count ≥ deduped count).
      case Some(raw) =>
        val seen = new java.util.LinkedHashMap[Long, (Long, Seq[Float])](raw.length * 2)
        raw.foreach(r => if (!seen.containsKey(r._1)) seen.put(r._1, r))
        val head = seen.values().toArray(new Array[(Long, Seq[Float])](0))
        val (lshRows, ivfRows, rcL) = localIndexRows(head, planes, quant)
        rc = rcL
        // unlike an APPEND, compaction's radii/data writes can all run
        // concurrently (guide §2.6): the target re-ingests vectors whose
        // radii are still published by the superseded batches until the
        // step-4 cleanup, so a crash at ANY interleaving leaves max-merge
        // readers with an over-estimate — extra lists scanned, none
        // missed. The commit record still lands strictly last.
        inParallel(
          () => writeRadiiBatch(spark, indexDir, target, rc, overwriteAll = false),
          lshWriteLocal(spark, indexDir, target, lshRows, overwriteAll = false),
          ivfWriteLocal(spark, indexDir, target, ivfRows, overwriteAll = false))
        writeBatchesRecord(spark, indexDir, target, rc._2.sum, overwriteAll = false)
      case None =>
        // localCheckpoint breaks the read->overwrite-same-path cycle (Spark
        // rejects a write whose plan still reads the output path) and
        // bounds the materialized slice to the VECTORS (not the
        // L-times-larger lsh table). A 100-TB deployment would bound it
        // further by compacting one list_id range at a time — same
        // algorithm, partial scope.
        val vecs = vecsAll.dropDuplicates("vec_id").as[(Long, Seq[Float])]
          .localCheckpoint(true)
        val (lsh, ivf) = indexRows(spark, vecs, planes, quant)
        val ivfP = ivf.persist()
        // 1. tight radii first, 2.-3. data + commit record via the one
        // shared write path (single layout definition with build/append);
        // n_rows = Σ per-list counts (no separate count() job — see
        // appendAnnIndex)
        rc = collectRadii(ivfP, quant.cents.length)
        writeRadiiBatch(spark, indexDir, target, rc, overwriteAll = false)
        writeIndexBatch(indexDir, target, lsh, ivfP, rc._2.sum, overwriteAll = false)
        ivfP.unpersist(false)
        // the checkpointed vecs blocks are reclaimed by the ContextCleaner
        // once this frame goes out of scope (Dataset.unpersist does not
        // track localCheckpoint blocks)
    }

    // 4. drop the superseded batch partitions (Hadoop FS glob — works on
    // local FS here and HDFS/object stores at scale)
    val conf = spark.sparkContext.hadoopConfiguration
    old.foreach { b =>
      Seq(s"$indexDir/lsh/*/*/batch=$b", s"$indexDir/ivf/*/batch=$b",
        s"$indexDir/radii/batch=$b", s"$indexDir/batches/batch=$b").foreach { pat =>
        val p = new org.apache.hadoop.fs.Path(pat)
        val fs = p.getFileSystem(conf)
        val hits = fs.globStatus(p)
        if (hits != null) hits.foreach(h => fs.delete(h.getPath, true))
      }
    }
    // write-through seed AFTER cleanup: the radii dir now holds exactly the
    // target batch, whose tight radii this process just computed (the next
    // probe's quantizer read becomes job-free; fingerprint still guards
    // external writers — see buildAnnIndex)
    putBounded(radiiCache, indexDir,
      (dirFingerprint(spark, s"$indexDir/radii"), rc))
  }

  /** bump on ANY change to signature / quantizer / layout semantics
    * (hyperplaneSig, l2normalize, partitioning): a persisted index built by
    * older code must never be probed by newer code.
    * v3: sqrt(n) nlist + kmeans++ quantizer, per-list radius column
    * (exactness certificate), batch partition axis (append mode).
    * v4: radii split out of centroids into an append-only batch-partitioned
    * table (crash-safe + concurrent-append-safe max-merge); hash-based
    * quantizer sampling (arbitrary vec_id spaces).
    * v5: radii table gains per-list member counts (sum-merged) feeding the
    * radius-aware initial probe choice — common case one pruned read. */
  final val AnnIndexVersion = 5

  private def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** build-if-absent wrapper keyed by the sf dir (the correctness/bench
    * harness entry — production callers own indexDir lifetimes). Rebuilds
    * when the persisted index predates [[AnnIndexVersion]].
    *
    * Publish is ATOMIC: the index is built into a process-unique temp dir
    * and renamed into place, so two JVMs racing the same missing index
    * (Verify and Bench do exactly this) can never interleave overwrite
    * writes into one dir, and a probe can never read a half-built index —
    * the published path either doesn't exist or is complete. The loser of
    * the publish race keeps the winner's index and discards its own. */
  def ensureAnnIndex(spark: SparkSession, sfDir: String): String = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    // the raw-path hash disambiguates sfDirs that sanitize identically
    // ("/data/sf_a" vs "/data/sf-a") — a silent key collision would probe
    // whichever corpus built first
    val indexDir = s"${sys.props("java.io.tmpdir")}/graft-ann-v$AnnIndexVersion-$name-" +
      (sfDir.hashCode & 0x7fffffff).toString
    
    def versionOk: Boolean = new java.io.File(s"$indexDir/ivf/_SUCCESS").exists() && (try {
      // readMeta caches behind a file fingerprint: repeated ensure calls
      // (one per probe in the harness) cost a dir listing, not a Spark job
      readMeta(spark, indexDir)._5 == AnnIndexVersion
    } catch { case scala.util.control.NonFatal(_) => false })
    if (!versionOk) {
      val tmp = s"$indexDir.build-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      buildAnnIndex(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"), tmp)
      val src = java.nio.file.Paths.get(tmp)
      val dst = java.nio.file.Paths.get(indexDir)
      try java.nio.file.Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case scala.util.control.NonFatal(_) =>
          if (versionOk) deleteRecursively(tmp) // lost the race: keep the winner
          else {
            // a stale/old-version dir squats on the name. Replacing it is
            // delete-then-move — NOT atomic — so only ONE process may do
            // it: an atomically-created lock file elects the replacer;
            // everyone else WAITS for a valid index instead of deleting
            // anything (a published complete index is therefore never
            // deleted by a non-elected process — no delete-the-winner
            // window between another JVM's versionOk check and its move).
            val lock = new java.io.File(s"$indexDir.lock")
            val token = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
            def create(): Boolean = try {
              if (lock.createNewFile()) {
                java.nio.file.Files.writeString(lock.toPath, token)
                true
              } else false
            } catch { case scala.util.control.NonFatal(_) => false }
            // a crashed holder must not wedge recovery forever: a lock
            // older than 10 min is stolen. A LIVE holder heartbeats the
            // lock mtime every 60 s below, so only a genuinely dead holder
            // ever looks stale. The steal is an ATOMIC RENAME (exactly one
            // stealer moves the stale lock aside — delete+create let two
            // waiters both win and the second's deleteRecursively could
            // destroy the first's just-published index), and election is
            // CONFIRMED by re-reading the process token after a settle
            // window, so a create racing the vacated name can't yield two
            // elected processes.
            def steal(): Boolean = {
              val stale = lock.exists() &&
                System.currentTimeMillis() - lock.lastModified() > 600000L
              stale && {
                val aside = new java.io.File(s"${lock.getPath}.stale-$token")
                lock.renameTo(aside) && { aside.delete(); create() }
              }
            }
            def confirmed(): Boolean = try {
              Thread.sleep(150) // let a racing create's write settle
              new String(java.nio.file.Files.readAllBytes(lock.toPath),
                java.nio.charset.StandardCharsets.UTF_8) == token
            } catch { case scala.util.control.NonFatal(_) => false }
            if ((create() || steal()) && confirmed()) {
              val heartbeat = new Thread(() => {
                try while (!Thread.interrupted()) {
                  Thread.sleep(60000L)
                  lock.setLastModified(System.currentTimeMillis()); ()
                } catch { case _: InterruptedException => () }
              }, s"ann-lock-heartbeat-${lock.getName}")
              heartbeat.setDaemon(true)
              heartbeat.start()
              try {
                if (!versionOk) { // re-check under the lock
                  deleteRecursively(indexDir)
                  // a fresh builder (not in this recovery branch) may land
                  // its first move into the vacated name during our
                  // window — its index is complete, so keep it
                  try java.nio.file.Files.move(src, dst,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                  catch {
                    case scala.util.control.NonFatal(e) =>
                      if (versionOk) deleteRecursively(tmp) else throw e
                  }
                } else deleteRecursively(tmp)
              } finally { heartbeat.interrupt(); lock.delete(); () }
            } else {
              // another process is replacing the squatter: wait it out
              val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
              while (!versionOk && System.nanoTime() < deadline) Thread.sleep(200)
              deleteRecursively(tmp)
              require(versionOk,
                s"ANN index recovery at $indexDir did not complete within 120 s")
            }
          }
      }
    }
    indexDir
  }

}
