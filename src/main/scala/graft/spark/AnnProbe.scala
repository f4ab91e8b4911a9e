package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** probes + eval harnesses against the persisted ANN index: key-range-
  * pruned LSH probes (single + batched), the certificate-exact IVF probe
  * with radius-aware initial list selection, and the cross-engine TopK
  * eval pair. Maintenance lifecycle lives in [[AnnIndexOps]]; see
  * [[TextOps]]. */
private[spark] trait AnnProbeOps extends AnnIndexOps {
  /** per table, the Hamming-<=radius probe set of `q`'s signature. */
  private def lshProbes(m: AnnManifest, q: Array[Float], radius: Int): Array[Set[Int]] =
    Array.tabulate(m.tables)(t => probeSetR(hyperplaneSig(q, m.planes, t), m.planes, radius))

  /** the lsh rows in the union of `probes`' buckets: only files whose
    * (tbl, sig) range meets a probed key are read, and the pushed-down
    * `sig IN (...)` filter skips row groups inside them. */
  private def lshCandidates(spark: SparkSession, indexDir: String, m: AnnManifest,
      probes: Seq[Array[Set[Int]]]): Option[DataFrame] = {
    val perTable = (0 until m.tables).map(t => probes.flatMap(_(t)).distinct.sorted)
    val keys = perTable.zipWithIndex.flatMap { case (ps, t) => ps.map(lshKey(t, _)) }.toArray
    sectionScan(spark, indexDir, m, "lsh", keys).map(_.where(perTable.zipWithIndex
      .map { case (ps, t) => col("tbl") === t && col("sig").isin(ps: _*) }.reduce(_ || _)))
  }

  /** exact top-k by cosine to `q` over (vec_id, embedding) rows in ONE job
    * and no shuffle: each partition keeps its k best distinct ids, the
    * driver merges (duplicates across batches dedup on vec_id). */
  private def topKScan(df: Option[DataFrame], q: Array[Float], k: Int): Array[(Long, Double)] = {
    val top = new TopK(k)
    df.foreach { d =>
      import d.sparkSession.implicits._
      d.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
        .mapPartitions { it =>
          val part = new TopK(k)
          it.foreach { case (id, v) => part.add(id, cosine(q, v)) }
          part.result.iterator
        }.collect().foreach { case (id, c) => top.add(id, c) }
    }
    top.result
  }

  /** the LAZY scored probe scan behind [[annLshIndexed]] against the current
    * manifest: reads ONLY the files whose key range meets the probed
    * buckets, with the sig filter pushed down — O(tables * probes *
    * bucket) rows, not a corpus scan. Public so plan audits (Plans.scala,
    * TextOpsSpec) can inspect the pruned scan. */
  def annLshProbeScan(spark: SparkSession, sfDir: String, indexDir: String,
      queryId: Long, radius: Int = 1): DataFrame = {
    import spark.implicits._
    val m = requireIndex(spark, indexDir, fresh = false)
    val q = queryVector(spark, sfDir, queryId)
    lshCandidates(spark, indexDir, m, Seq(lshProbes(m, q, radius)))
      .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), LshSchema))
      .dropDuplicates("vec_id") // a vector probed in several tables scores once
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
      .map { case (id, v) => (id, cosine(q, v)) }
      .toDF("vec_id", "cosine")
  }

  /** LSH probe against the persisted index: a pruned scan and a one-job
    * distinct top-k ([[lshProbe]]). */
  def annLshIndexed(spark: SparkSession, sfDir: String, indexDir: String,
      queryId: Long, k: Int, radius: Int = 1): DataFrame = {
    import spark.implicits._
    val m = requireIndex(spark, indexDir, fresh = false)
    lshProbe(spark, indexDir, m, queryVector(spark, sfDir, queryId), k, radius)
      .toSeq.zipWithIndex.map { case (id, i) => (i + 1, id) }.toDF("rank", "vec_id")
  }

  /** [[annLshIndexed]]'s ranked ids, starting from manifest `m`. */
  private[graft] def lshProbe(spark: SparkSession, indexDir: String, m: AnnManifest,
      q: Array[Float], k: Int, radius: Int): Array[Long] =
    retrying(spark, indexDir, m) { m =>
      topKScan(lshCandidates(spark, indexDir, m, Seq(lshProbes(m, q, radius))), q, k).map(_._1)
    }

  /** IVF probe against the persisted index, EXACT by construction:
    * phase 1 is a pruned read of a RADIUS-AWARE initial list set (sized
    * from the manifest's per-list radii + member counts so the certificate
    * usually fires immediately — see [[ivfProbe]]); the radii then either
    * CERTIFY the top-k as globally exact ([[certifiedExpansion]] returns
    * nothing) or name the only other lists that could hold a better
    * candidate, which phase 2 reads (again pruned) and merges. With genuine
    * cluster structure the common case is ONE pruned read; a clusterless
    * corpus honestly pays for more lists instead of silently returning
    * wrong neighbors. Driver state is O(k + nlist). `nprobe` is retained
    * for signature compatibility; the selection is adaptive and ignores it. */
  def annIvfIndexed(spark: SparkSession, sfDir: String, indexDir: String,
      queryId: Long, k: Int, nprobe: Int = 6): DataFrame = {
    import spark.implicits._
    val m = requireIndex(spark, indexDir, fresh = false)
    ivfProbe(spark, indexDir, m, queryVector(spark, sfDir, queryId), k)
      .toSeq.zipWithIndex.map { case (id, i) => (i + 1, id) }.toDF("rank", "vec_id")
  }

  /** [[annIvfIndexed]]'s ranked ids, starting from manifest `m`. */
  private[graft] def ivfProbe(spark: SparkSession, indexDir: String, m0: AnnManifest,
      q: Array[Float], k: Int): Array[Long] = retrying(spark, indexDir, m0) { m =>
    val (radii, counts) = (m.radii, m.counts)
    val dists = centroidDistances(l2normalize(q), m.quant.cents)
    // RADIUS-AWARE initial probe choice (replacing a fixed nprobe): take
    // lists in centroid-distance order until their member counts cover k —
    // every member of list j has cosine >= 1 - (d_j + r_j)²/2, so the true
    // k-th best after scanning that prefix is >= B, the min of those
    // pessimistic bounds. Then pre-add every other list whose OPTIMISTIC
    // bound 1 - max(0, d_j - r_j)²/2 reaches B (the same test the
    // certificate will apply, against a bound the scan can only improve) —
    // the manifest's counts are exact, so the certificate then fires empty
    // and the probe is ONE pruned read. The certificate below stays the
    // exactness authority.
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

    def scanTopK(lists: Set[Int]): Array[(Long, Double)] = topKScan(
      sectionScan(spark, indexDir, m, "ivf", lists.toArray.sorted.map(_.toLong))
        .map(_.where(col("list_id").isin(lists.toSeq: _*))), q, k)

    val top1 = scanTopK(first)
    val kth = if (top1.length >= k) top1.iterator.map(_._2).min else -1.0
    val expand = certifiedExpansion(dists, radii, first, kth)
    if (expand.isEmpty) top1.map(_._1)
    else (top1 ++ scanTopK(expand)) // phase sets are disjoint: no dup ids
      .sortWith(TopK.cmp(_, _) < 0).take(k).map(_._1)
  }

  /** batch LSH probe: ONE pruned read serves a whole query set — the
    * production shape when ANN queries arrive in batches (dedup
    * candidates, recommendation fan-out). The scan filter is the UNION of
    * every query's probe buckets (still pruned: O(m * probes) buckets
    * total), each surviving row is scored only against the queries whose
    * probe set contains its bucket, and each partition keeps a distinct
    * top-k per query that the driver merges — one job, no shuffle. Output
    * rows (qid, rank, vec_id) in (qid, rank) order. */
  def annLshIndexedBatch(spark: SparkSession, sfDir: String, indexDir: String,
      queryIds: Seq[Long], k: Int, radius: Int = 1): DataFrame = {
    import spark.implicits._
    val qvecs = queryVectors(spark, sfDir, queryIds).sortBy(_._1)
    val merged = retrying(spark, indexDir, requireIndex(spark, indexDir, fresh = false)) { m =>
      val probes = qvecs.map { case (_, v) => lshProbes(m, v, radius) }
      val tops = qvecs.map(_ => new TopK(k))
      lshCandidates(spark, indexDir, m, probes.toSeq).foreach { df =>
        df.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]],
            col("tbl").as[Int], col("sig").as[Int])
          .mapPartitions { it =>
            val part = qvecs.map(_ => new TopK(k))
            it.foreach { case (id, v, tbl, sig) =>
              var i = 0
              while (i < part.length) {
                if (probes(i)(tbl).contains(sig)) part(i).add(id, cosine(qvecs(i)._2, v))
                i += 1
              }
            }
            part.indices.iterator.flatMap(i => part(i).result.iterator.map(r => (i, r._1, r._2)))
          }.collect().foreach { case (i, id, c) => tops(i).add(id, c) }
      }
      tops
    }
    qvecs.indices.flatMap { i =>
      merged(i).result.zipWithIndex.map { case ((id, _), r) => (qvecs(i)._1, r + 1, id) }
    }.toDF("qid", "rank", "vec_id")
  }

  /** Spark's double sort semantics for the local eval fast paths:
    * -0.0 == 0.0 (SQLOrderingUtil), descending by score, vec_id tiebreak
    * — matches the distributed windows' (cos desc, vec_id) exactly. */
  private def topKLocal(rows: Iterable[(Long, Double)], k: Int): Seq[(Long, Double)] =
    rows.toSeq.sortWith(TopK.cmp(_, _) < 0).take(k)

  /** multi-query LSH ANN eval with a CROSS-ENGINE oracle: emits the exact
    * top-k (qid, rank, vec_id) computed over multi-probe LSH candidates; the
    * DuckDB oracle recomputes per-query brute-force top-k independently via
    * list_cosine_similarity, so any candidate-set miss (recall < 1 at the
    * probed radius) hash-mismatches — the recall bit is no longer
    * self-graded. Window-per-qid is eval-harness shape; the production
    * single-query path is [[annLshIndexed]] (TakeOrdered, pruned read).
    * `materialize = false` returns the lazy plan on the distributed path;
    * under the driver budget the result is always a local relation (it
    * holds no cached intermediates, so there is nothing to release). */
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
    * the production single-query path is [[annIvfIndexed]].
    * `materialize` as in [[annLshTopKEval]]: under the driver budget the
    * result is always a local relation. */
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
