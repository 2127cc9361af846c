package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** probes + eval harnesses against the persisted ANN index: partition-
  * pruned LSH probes (single + batched), the certificate-exact IVF probe
  * with radius-aware initial list selection, and the cross-engine TopK
  * eval pair. Maintenance lifecycle lives in [[AnnIndexOps]]; see
  * [[TextOps]]. */
private[spark] trait AnnProbeOps extends AnnIndexOps {
  /** the LAZY scored probe scan behind [[annLshIndexed]]: reads ONLY the
    * probed (tbl, sigp) partitions (partition pruning) and skips
    * non-matching row groups via the pushed-down sig filter — O(tables *
    * probes * bucket) rows, not a corpus scan. Public so plan audits
    * (TextOpsSpec) can inspect the pruned scan that
    * [[rankTopK]]'s collect would otherwise hide behind a local relation. */
  def annLshProbeScan(spark: SparkSession, sfDir: String, indexDir: String,
      queryId: Long, radius: Int = 1): DataFrame = {
    import spark.implicits._
    val (planes, tables, _, _, _) = readMeta(spark, indexDir)
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") === queryId)
      .select(col("embedding")).as[Seq[Float]].head().toArray
    val qb = spark.sparkContext.broadcast(q)
    val shift = math.max(0, planes - 8)
    // one disjunct per table: tbl = t AND sigp IN (prefixes) AND sig IN (probes)
    val perTable = (0 until tables).map { t =>
      val probes = probeSetR(hyperplaneSig(q, planes, t), planes, radius).toSeq
      val prefixes = probes.map(_ >>> shift).distinct
      col("tbl") === t && col("sigp").isin(prefixes: _*) && col("sig").isin(probes: _*)
    }
    // ignoreMissingFiles (set in indexFrame): a concurrent compaction's
    // cleanup step may delete an old batch file mid-scan; its rows already
    // exist in the compacted partitions, so skipping the vanished file
    // stays correct
    indexFrame(spark, indexDir, "lsh")
      .where(perTable.reduce(_ || _))
      .dropDuplicates("vec_id") // a vector probed in several tables scores once
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
      .map { case (id, v) => (id, cosine(qb.value, v)) }
      .toDF("vec_id", "cosine")
  }

  /** LSH probe against the persisted index: partition-pruned scan
    * ([[annLshProbeScan]]) + TakeOrdered top-k. */
  def annLshIndexed(spark: SparkSession, sfDir: String, indexDir: String,
      queryId: Long, k: Int, radius: Int = 1): DataFrame =
    rankTopK(spark, annLshProbeScan(spark, sfDir, indexDir, queryId, radius), k)

  /** IVF probe against the persisted index, EXACT by construction:
    * phase 1 is a partition-pruned read of a RADIUS-AWARE initial list
    * set (sized from the persisted per-list radii + member counts so the
    * certificate usually fires immediately — see the selection comment
    * below); the radii then either CERTIFY the top-k as globally exact
    * ([[certifiedExpansion]] returns nothing) or name the only other
    * lists that could hold a better candidate, which phase 2 reads
    * (again pruned) and merges. With genuine cluster structure the
    * common case is ONE pruned read; a clusterless corpus honestly pays
    * for more lists instead of silently returning wrong neighbors.
    * Driver state is O(k + nlist). `nprobe` is retained for signature
    * compatibility; the selection is adaptive and ignores it. */
  def annIvfIndexed(spark: SparkSession, sfDir: String, indexDir: String,
      queryId: Long, k: Int, nprobe: Int = 6): DataFrame = {
    import spark.implicits._
    val (cents, radii, counts) = readQuantizer(spark, indexDir)
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") === queryId)
      .select(col("embedding")).as[Seq[Float]].head().toArray
    val qb = spark.sparkContext.broadcast(q)
    val dists = centroidDistances(l2normalize(q), cents)
    // RADIUS-AWARE initial probe choice (v5, replacing a fixed nprobe):
    // take lists in centroid-distance order until their member counts
    // cover k — every member of list j has cosine >= 1 - (d_j + r_j)²/2,
    // so the true k-th best after scanning that prefix is >= B, the min
    // of those pessimistic bounds. Then pre-add every other list whose
    // OPTIMISTIC bound 1 - max(0, d_j - r_j)²/2 reaches B (the same test
    // the certificate will apply, against a bound the scan can only
    // improve) — with honest counts the certificate then fires empty and
    // the probe is ONE pruned read. Counts are advisory (a crashed append
    // over-counts, making B too optimistic at worst): the certificate
    // below remains the exactness authority and pays a second pruned
    // read only in that crash window.
    val eps = CertEps
    val initial = scala.collection.mutable.LinkedHashSet.empty[Int]
    var covered = 0L
    var bound = Double.MaxValue
    var di = 0
    while (di < dists.length && covered < k) {
      val (dj, j) = dists(di)
      if (counts(j) > 0) {
        initial += j
        covered += counts(j)
        val p = 1.0 - (dj + radii(j)) * (dj + radii(j)) / 2.0
        if (p < bound) bound = p
      }
      di += 1
    }
    if (covered >= k) {
      dists.foreach { case (dj, j) =>
        if (!initial.contains(j) && counts(j) > 0) {
          val dmin = math.max(0.0, dj - radii(j))
          if (1.0 - dmin * dmin / 2.0 >= bound - 2 * eps) initial += j
        }
      }
    }
    // covered < k: the whole index holds fewer than k vectors and every
    // populated list is already in `initial`
    val first = initial.toSet

    def scanTopK(lists: Set[Int]): Array[(Long, Double)] =
      indexFrame(spark, indexDir, "ivf")
        .where(col("list_id").isin(lists.toSeq: _*))
        // duplicate-tolerant like every probe (see compactAnnIndex: the
        // compaction crash window may leave a vector in two batches)
        .dropDuplicates("vec_id")
        .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
        .map { case (id, v) => (id, cosine(qb.value, v)) }
        .orderBy(col("_2").desc, col("_1")).limit(k)
        .as[(Long, Double)].collect()

    val top1 = scanTopK(first)
    val kth = if (top1.length >= k) top1.iterator.map(_._2).min else -1.0
    val expand = certifiedExpansion(dists, radii, first, kth)
    val ids =
      if (expand.isEmpty) top1.map(_._1)
      else (top1 ++ scanTopK(expand)) // phase sets are disjoint: no dup ids
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    ids.toSeq.zipWithIndex.map { case (id, i) => (i + 1, id) }.toDF("rank", "vec_id")
  }

  /** batch LSH probe: ONE partition-pruned read serves a whole query set —
    * the production shape when ANN queries arrive in batches (dedup
    * candidates, recommendation fan-out). The scan filter is the UNION of
    * every query's probe buckets (still pruned: O(m * probes) buckets
    * total), the tiny query set broadcasts, and each surviving row is
    * scored only against the queries whose probe set contains its bucket.
    * Per-query window ranking is fine here because each query's candidate
    * set is bucket-sized, not corpus-sized. */
  def annLshIndexedBatch(spark: SparkSession, sfDir: String, indexDir: String,
      queryIds: Seq[Long], k: Int, radius: Int = 1): DataFrame = {
    import spark.implicits._
    val (planes, tables, _, _, _) = readMeta(spark, indexDir)
    val shift = math.max(0, planes - 8)
    val qvecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
      .collect().sortBy(_._1)
    // per query, per table: the probe set
    val queries: Array[(Long, Array[Float], Array[Set[Int]])] = qvecs.map { case (id, v) =>
      val arr = v.toArray
      (id, arr, Array.tabulate(tables)(t => probeSetR(hyperplaneSig(arr, planes, t), planes, radius)))
    }
    val qb = spark.sparkContext.broadcast(queries)
    // union scan filter: tbl = t AND sigp IN (all queries' prefixes) AND sig IN (all probes)
    val perTable = (0 until tables).map { t =>
      val probes = queries.iterator.flatMap(_._3(t)).toSeq.distinct
      val prefixes = probes.map(_ >>> shift).distinct
      col("tbl") === t && col("sigp").isin(prefixes: _*) && col("sig").isin(probes: _*)
    }
    val scored = indexFrame(spark, indexDir, "lsh")
      .where(perTable.reduce(_ || _))
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]],
        col("tbl").as[Int], col("sig").as[Int])
      .flatMap { case (id, v, tbl, sig) =>
        // a vector appears once per table in the index; emit it for every
        // query probing this bucket — multi-table hits collapse in the
        // (qid, vec_id) dedup below
        qb.value.iterator.flatMap { case (qid, qv, probes) =>
          if (probes(tbl).contains(sig)) Iterator.single((qid, id, cosine(qv, v)))
          else Iterator.empty
        }
      }
      .toDF("qid", "vec_id", "cos")
      .dropDuplicates("qid", "vec_id")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
      .orderBy("qid", "rank")
  }

  /** Spark's double sort semantics for the local eval fast paths:
    * -0.0 == 0.0 (SQLOrderingUtil), descending by score, vec_id tiebreak
    * — matches the distributed windows' (cos desc, vec_id) exactly. */
  private def topKLocal(rows: Iterable[(Long, Double)], k: Int): Seq[(Long, Double)] =
    rows.toSeq.sortWith { (a, b) =>
      val c = if (a._2 == b._2) 0 else java.lang.Double.compare(b._2, a._2)
      if (c != 0) c < 0 else a._1 < b._1
    }.take(k)

  /** multi-query LSH ANN eval with a CROSS-ENGINE oracle: emits the exact
    * top-k (qid, rank, vec_id) computed over multi-probe LSH candidates; the
    * DuckDB oracle recomputes per-query brute-force top-k independently via
    * list_cosine_similarity, so any candidate-set miss (recall < 1 at the
    * probed radius) hash-mismatches — the recall bit is no longer
    * self-graded. Window-per-qid is eval-harness shape; the production
    * single-query path is [[annLshIndexed]] (TakeOrdered, pruned read).
    * On the distributed path `materialize = false` returns the lazy plan
    * (the persisted signature frame is released, the plan recomputes).
    * The driver fast path (at most `driverVecBudget` vectors) always
    * returns a materialized local relation, whatever `materialize` says. */
  def annLshTopKEval(spark: SparkSession, sfDir: String, m: Int, k: Int,
      radius: Int = 2, materialize: Boolean = true,
      driverVecBudget: Int = AnnDriverVecBudget): DataFrame = {
    import spark.implicits._
    val embRaw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
    // small-corpus driver fast path (see [[AnnDriverVecBudget]]): the whole
    // eval — sigs, probe-set membership, cosines, per-query top-k — is a
    // deterministic function of the collected vectors; one job replaces
    // the count + collect + flatMap + window chain. Same per-row math,
    // same (cos desc, vec_id) ranking, so the emitted rows are identical.
    if (driverVecBudget > 0) {
      val head = embRaw.limit(driverVecBudget + 1).collect()
      if (head.length <= driverVecBudget) {
        val planes = planesFor(head.length.toLong)
        val queries = head.filter(_._1 < m).map { case (id, v) =>
          val arr = v.toArray
          (id, arr, Array.tabulate(LshTables)(t =>
            probeSetR(hyperplaneSig(arr, planes, t), planes, radius)))
        }
        // per-row signatures computed ONCE, shared by every query (the
        // distributed flatMap has the same shape)
        val sigs = head.map { case (_, v) =>
          Array.tabulate(LshTables)(t => hyperplaneSig(v, planes, t))
        }
        val out = queries.sortBy(_._1).toSeq.flatMap { case (qid, qv, probes) =>
          val cand = head.indices.iterator.flatMap { i =>
            val s = sigs(i)
            var hit = false
            var t = 0
            while (t < probes.length && !hit) { hit = probes(t).contains(s(t)); t += 1 }
            if (hit) Iterator.single((head(i)._1, cosine(qv, head(i)._2)))
            else Iterator.empty
          }
          topKLocal(cand.toSeq, k).zipWithIndex.map { case ((id, _), i) => (qid, i + 1, id) }
        }
        return out.toDF("qid", "rank", "vec_id")
      }
    }
    val emb = embRaw.persist()
    val planes = planesFor(emb.count())
    val queries: Array[(Long, Array[Float], Array[Set[Int]])] =
      emb.filter(_._1 < m).collect().map { case (id, v) =>
        val probes = Array.tabulate(LshTables)(t =>
          probeSetR(hyperplaneSig(v, planes, t), planes, radius))
        (id, v.toArray, probes)
      }
    val qb = spark.sparkContext.broadcast(queries)
    val scored = emb.flatMap { case (id, v) =>
      val sigs = Array.tabulate(LshTables)(t => hyperplaneSig(v, planes, t))
      qb.value.iterator.flatMap { case (qid, qv, probes) =>
        var hit = false
        var t = 0
        while (t < probes.length && !hit) { hit = probes(t).contains(sigs(t)); t += 1 }
        if (hit) Iterator.single((qid, id, cosine(qv, v))) else Iterator.empty
      }
    }.toDF("qid", "vec_id", "cos")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val topk = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"))
    if (materialize) finishUnpersist(topk, emb)
    else { emb.unpersist(false); topk } // leak-free: lazy plan recomputes
  }

  /** multi-query IVF ANN eval, same cross-engine contract as
    * [[annLshTopKEval]] and now EXACT by the same radius certificate as
    * [[annIvfIndexed]]: phase 1 scores each query against its `nprobe`
    * nearest inverted lists; queries whose top-k the certificate cannot
    * yet confirm get a phase-2 pass over exactly the lists that could
    * still hold a better candidate. Inherently two-phase/eager (the
    * expansion depends on phase-1 scores); window-per-qid is eval shape —
    * the production single-query path is [[annIvfIndexed]]. Like
    * [[annLshTopKEval]], the driver fast path (at most `driverVecBudget`
    * vectors) always returns a materialized local relation, whatever
    * `materialize` says. */
  def annIvfTopKEval(spark: SparkSession, sfDir: String, m: Int, k: Int,
      nprobe: Int = 6, materialize: Boolean = true,
      driverVecBudget: Int = AnnDriverVecBudget): DataFrame = {
    import spark.implicits._
    val embRaw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
    // small-corpus driver fast path (see [[AnnDriverVecBudget]] and
    // [[annLshTopKEval]]): quantizer fit, assignment, radii, both scoring
    // phases and the certificate all run on the collected vectors — the
    // SAME deterministic sample, per-row math and ranking as the
    // distributed body, so the emitted rows are identical.
    if (driverVecBudget > 0) {
      val head = embRaw.limit(driverVecBudget + 1).collect()
      if (head.length <= driverVecBudget) {
        val nL = head.length.toLong
        val nlist = math.min(nlistFor(nL), DriverFitMaxNlist)
        val target = quantizerSampleSize(nL, nlist)
        val stride = math.max(1L, nL / target)
        val picked0 = head.filter(t => math.floorMod(mix64(t._1), stride) == 0L)
          .sortBy(_._1).map(x => l2normalize(x._2))
        val sample =
          if (picked0.nonEmpty) picked0
          else head.sortBy(_._1)
            .take(math.min(target, Int.MaxValue.toLong).toInt)
            .map(x => l2normalize(x._2))
        val cents = kmeansCentroids(sample, nlist)
        val assigned = head.map { case (id, v) =>
          val nv = l2normalize(v)
          val c = nearestCentroid(nv, cents)
          (id, v, c, math.sqrt(dist2(nv, cents(c))))
        }
        val radii = new Array[Double](cents.length)
        assigned.foreach { case (_, _, c, d) => if (d > radii(c)) radii(c) = d }
        val queries = head.filter(_._1 < m).map { case (id, v) =>
          (id, v.toArray, centroidDistances(l2normalize(v), cents))
        }
        val probes1: Map[Long, Set[Int]] = queries.map { case (qid, _, dists) =>
          qid -> dists.take(math.min(nprobe, dists.length)).map(_._2).toSet
        }.toMap
        def scoreLocal(listsOf: Long => Set[Int]): Map[Long, Seq[(Long, Double)]] =
          queries.map { case (qid, qv, _) =>
            val ls = listsOf(qid)
            qid -> assigned.iterator.collect {
              case (id, v, list, _) if ls.contains(list) => (id, cosine(qv, v))
            }.toSeq
          }.toMap
        val p1: Map[Long, Seq[(Long, Double)]] =
          scoreLocal(probes1).map { case (qid, cand) => qid -> topKLocal(cand, k) }
        val kthOf: Map[Long, Double] = p1.map { case (qid, mine) =>
          qid -> (if (mine.length >= k) mine.iterator.map(_._2).min else -1.0)
        }
        val expansions: Map[Long, Set[Int]] = queries.map { case (qid, _, dists) =>
          qid -> certifiedExpansion(dists, radii, probes1(qid), kthOf(qid))
        }.toMap
        val p2 = scoreLocal(qid => expansions(qid))
        val out = queries.sortBy(_._1).toSeq.flatMap { case (qid, _, _) =>
          // phase sets are disjoint, so the union has no duplicate ids
          topKLocal(p1(qid) ++ p2(qid), k).zipWithIndex
            .map { case ((id, _), i) => (qid, i + 1, id) }
        }
        return out.toDF("qid", "rank", "vec_id")
      }
    }
    val emb = embRaw.persist()
    val n = emb.count()
    // EVAL-ONLY harness: clamp to the driver-fit cap — unlike
    // buildAnnIndex this path has no two-level branch, and a coarser
    // codebook only changes candidate-set size, never the exactness
    // contract (the certificate still closes it)
    val nlist = math.min(nlistFor(n), DriverFitMaxNlist)
    val sample = sampleVectors(emb, n, quantizerSampleSize(n, nlist))
    val cents = kmeansCentroids(sample, nlist)
    val centsB = spark.sparkContext.broadcast(cents)
    // one assignment pass, reused by both phases; radii for the certificate
    val assigned = emb.map { case (id, v) =>
      val nv = l2normalize(v)
      val c = nearestCentroid(nv, centsB.value)
      (id, v, c, math.sqrt(dist2(nv, centsB.value(c))))
    }.toDF("vec_id", "embedding", "list_id", "cdist").persist()
    val radii = collectRadii(assigned, cents.length)._1

    val queries: Array[(Long, Array[Float], Array[(Double, Int)])] =
      emb.filter(_._1 < m).collect().map { case (id, v) =>
        (id, v.toArray, centroidDistances(l2normalize(v), cents))
      }
    val probes1: Map[Long, Set[Int]] = queries.map { case (qid, _, dists) =>
      qid -> dists.take(math.min(nprobe, dists.length)).map(_._2).toSet
    }.toMap
    val qb = spark.sparkContext.broadcast(queries.map { case (qid, qv, _) => (qid, qv) })
    val p1B = spark.sparkContext.broadcast(probes1)

    def scorePass(listsOf: org.apache.spark.broadcast.Broadcast[Map[Long, Set[Int]]]) =
      assigned.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]],
          col("list_id").as[Int])
        .flatMap { case (id, v, list) =>
          qb.value.iterator.flatMap { case (qid, qv) =>
            val ls = listsOf.value.getOrElse(qid, Set.empty)
            if (ls.contains(list)) Iterator.single((qid, id, cosine(qv, v)))
            else Iterator.empty
          }
        }.toDF("qid", "vec_id", "cos")

    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def topK(scored: DataFrame): DataFrame =
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)

    // phase 1 + certificate check per query (m*k rows to the driver)
    val p1 = topK(scorePass(p1B))
      .select(col("qid").as[Long], col("vec_id").as[Long], col("cos").as[Double])
      .collect()
    val kthOf: Map[Long, Double] = queries.map { case (qid, _, _) =>
      val mine = p1.filter(_._1 == qid)
      qid -> (if (mine.length >= k) mine.iterator.map(_._3).min else -1.0)
    }.toMap
    val expansions: Map[Long, Set[Int]] = queries.map { case (qid, _, dists) =>
      qid -> certifiedExpansion(dists, radii, probes1(qid), kthOf(qid))
    }.toMap

    val result =
      if (expansions.valuesIterator.forall(_.isEmpty)) {
        // certified after one pass: rank the collected rows locally
        p1.toSeq.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
          rows.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
            .map { case (r, i) => (qid, i + 1, r._2) }
        }.toDF("qid", "rank", "vec_id")
      } else {
        val expB = spark.sparkContext.broadcast(expansions)
        // phase-1 winners re-enter as local rows; expansion lists are
        // disjoint from phase-1 probes, so the union has no duplicates
        val p1Df = p1.toSeq.map(r => (r._1, r._2, r._3)).toDF("qid", "vec_id", "cos")
        topK(scorePass(expB).union(p1Df))
          .select(col("qid"), col("rank"), col("vec_id"))
      }
    // the internal emb/assigned persists are ALWAYS released here — they
    // are implementation caches the caller cannot reach. With
    // materialize = false the returned (phase-2) plan simply recomputes
    // its scans on action: correctness-neutral, leak-free.
    if (materialize && !expansions.valuesIterator.forall(_.isEmpty)) {
      finishUnpersist(result, emb, assigned)
    } else {
      emb.unpersist(false)
      assigned.unpersist(false)
      result
    }
  }
}
