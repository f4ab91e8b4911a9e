package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{TextFixtures, TextOps}

/** Ground-truth tests for the training-data operators (the round-1 gap:
  * minhash/simhash/fingerprint/langid/ANN had no correctness signal). */
class TextOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    // a leaked session from an earlier suite in the shared forked JVM
    // would be adopted by getOrCreate() with THAT suite's config --
    // never this one's extensions; always start fresh
    SparkSession.getActiveSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-textops-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def synthDocs(texts: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    texts.toDF("doc_id", "text")
  }

  // ---------- hashes / pure functions ----------

  test("jaccard: exact shingle-set similarity") {
    val a = (0 until 20).map(i => s"t$i").mkString(" ")
    assert(TextOps.jaccard(a, a, 3) == 1.0)
    assert(TextOps.jaccard(a, a.replace(' ', '\t'), 3) == 1.0) // whitespace-insensitive
    val b = (100 until 120).map(i => s"t$i").mkString(" ")
    assert(TextOps.jaccard(a, b, 3) == 0.0)
    assert(TextOps.jaccard("", "", 3) == 1.0)
    assert(TextOps.jaccard(a, "", 3) == 0.0)
  }

  test("minHashBandKeys: sub-w docs emit NO bands (degenerate-bucket guard)") {
    assert(TextOps.minHashBandKeys("one two", 3, 16, 4) == null)
    assert(TextOps.minHashBandKeys("", 3, 16, 4) == null)
    assert(TextOps.minHashBandKeys(null, 3, 16, 4) == null)
    val keys = TextOps.minHashBandKeys("one two three four", 3, 16, 4)
    assert(keys != null && keys.length == 4)
    // identical token streams (different raw whitespace) collide on every band
    val k2 = TextOps.minHashBandKeys("one  two   three  four", 3, 16, 4)
    assert(keys.sameElements(k2))
  }

  test("langId recovers every planted language") {
    (0L until 100L).foreach { id =>
      val got = TextOps.langId(TextFixtures.langText(id))
      assert(got == TextFixtures.plantedLang(id), s"doc $id")
    }
  }

  test("fingerprint/simhash: equal iff same text on the planted pairs") {
    (0L until 200L).foreach { id =>
      val t = TextFixtures.fpText(id)
      val p = TextFixtures.fpText(id ^ 1L)
      val expectEq = ((id >> 1) & 1L) == 0L
      assert((TextOps.fingerprint(t, 16) == TextOps.fingerprint(p, 16)) == expectEq, s"fp doc $id")
      val ham = java.lang.Long.bitCount(TextOps.simHash(t) ^ TextOps.simHash(p))
      if (expectEq) assert(ham == 0, s"sim doc $id") else assert(ham > 8, s"sim doc $id ham=$ham")
    }
  }

  test("winnowing: shared substring >= k+w-1 chars yields shared fingerprints") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val a = "PREFIXA " + base + " SUFFIXA"
    val b = "xyz " + base + " qrs"
    val ov = TextOps.winnowOverlap(TextOps.winnowSet(a), TextOps.winnowSet(b))
    assert(ov > 0.5, s"copied-substring overlap was $ov")
    val c = (100 until 140).map(i => s"tok$i").mkString(" ")
    val ovU = TextOps.winnowOverlap(TextOps.winnowSet(a), TextOps.winnowSet(c))
    assert(ovU < 0.2, s"unrelated overlap was $ovU")
    assert(TextOps.winnowOverlap(TextOps.winnowSet(a), TextOps.winnowSet(a)) == 1.0)
    assert(TextOps.winnowSet("short", 16, 8).isEmpty)
    assert(TextOps.winnowSet(null).isEmpty)
  }

  // ---------- minhash LSH pipeline ----------

  test("minhashPairs: planted near-dups found, mutated pairs verified away, shorts inert") {
    val planted = (0L until 40L).map(id => (id, TextFixtures.nearDupText(id)))
    val shorts = (100L to 102L).map(id => (id, "a b")) // identical sub-w docs
    val pairs = TextOps.minhashPairs(spark, synthDocs(planted ++ shorts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 40L by 2L).filter(id => ((id >> 1) & 1L) == 0L)
      .map(id => (id, id + 1L)).toSet
    assert(pairs == expected)
  }

  test("minhashPairs: bucketCap kills pathological buckets before the self-join") {
    val same = (0L until 50L).map(id => (id, (0 until 10).map(j => s"x$j").mkString(" ")))
    val capped = TextOps.minhashPairs(spark, synthDocs(same), bucketCap = 10L)
    assert(capped.count() == 0L)
    val uncapped = TextOps.minhashPairs(spark, synthDocs(same), bucketCap = 10000L)
    assert(uncapped.count() == 50L * 49L / 2L) // all-pairs when allowed
  }

  test("simhashPairs: identical docs pair, unrelated do not") {
    val docs = synthDocs(Seq(
      (0L, TextFixtures.fpText(0L)), (1L, TextFixtures.fpText(0L)),
      (2L, TextFixtures.fpText(10L)), (3L, TextFixtures.fpText(20L))))
    val pairs = TextOps.simhashPairs(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  // ---------- exact dedup ----------

  test("dedupExact: hash shuffle key, correct keep/dup semantics") {
    val docs = synthDocs(Seq((3L, "aa"), (1L, "aa"), (2L, "bb"), (7L, "aa")))
    val out = TextOps.dedupExact(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("aa", 1L, 3L), ("bb", 2L, 1L)))
    val plan = TextOps.dedupExact(docs).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(h#"), "shuffle key must be the 64-bit hash column")
    assert(!plan.contains("hashpartitioning(text"), "text must not be the partition key")
  }

  test("dedupExactSummary matches COUNT(DISTINCT text)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = TextOps.dedupExactSummary(docs).head()
    val want = docs.agg(countDistinct(col("text")), count(lit(1))).head()
    assert(got.getLong(0) == want.getLong(0) && got.getLong(1) == want.getLong(1))
  }

  // ---------- ANN ----------

  test("planesFor scales bucket count with corpus size") {
    assert(TextOps.planesFor(100L) == 3)
    assert(TextOps.planesFor(1L << 20) >= 13)
    assert(TextOps.planesFor(1L << 50) == 24)
    assert(TextOps.planesFor(0L) == 3)
  }

  test("annLsh agrees with brute-force top-k on sf0.001") {
    val brute = TextOps.annTopK(spark, sfDir, queryId = 0L, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val lsh = TextOps.annLsh(spark, sfDir, queryId = 0L, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(brute.size == 5)
    assert(lsh == brute)
  }

  test("embedDupPairs: planted identical vectors pair, independents do not") {
    val s = spark
    import s.implicits._
    val emb = (0L until 40L)
      .map(id => (id, TextFixtures.pairVec(id).toSeq)).toDF("vec_id", "embedding")
    val pairs = TextOps.embedDupPairs(spark, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 40L by 2L).filter(id => ((id >> 1) & 1L) == 0L)
      .map(id => (id, id + 1L)).toSet
    assert(pairs == expected)
  }

  test("qualityScore stopword_ratio + tokenCount bpe_count on known text") {
    val docs = synthDocs(Seq(
      (1L, "the cat and the dog"), // 3 of 5 stopwords; bpe: 5 letter runs
      (2L, "a1,b2!"),              // bpe: a 1 , b 2 ! = 6
      (3L, " ")))
    val q = TextOps.qualityScore(docs).orderBy("doc_id").collect()
    assert(q(0).getDouble(3) == 3.0 / 5.0)
    assert(q(2).getDouble(3) == 0.0)
    val t = TextOps.tokenCount(docs).orderBy("doc_id").collect()
    assert(t(0).getLong(2) == 5L)
    assert(t(1).getLong(2) == 6L)
    assert(t(2).getLong(1) == 0L)
  }

  test("quantizer sizing: nlist ~ sqrt(n), sample >= 64 per centroid (round-3 fix)") {
    // nlist scales as sqrt(n) between the clamps — list size and list
    // count grow together instead of lists growing linearly
    assert(TextOps.nlistFor(0L) == 8)
    assert(TextOps.nlistFor(100L) == 10)
    assert(TextOps.nlistFor(10000L) == 100)
    assert(TextOps.nlistFor(1000000L) == 1000)
    // v5: the sqrt rule holds past the old 4096 driver-fit cap (two-level
    // training takes over above DriverFitMaxNlist); clamp now 131072
    assert(TextOps.nlistFor(100000000L) == 10000)
    assert(TextOps.nlistFor(Long.MaxValue / 4) == 131072) // clamp
    // the training sample is 64 vectors PER CENTROID (never again 1:1)
    assert(TextOps.quantizerSampleSize(1000000L, 1000) == 64000L)
    assert(TextOps.quantizerSampleSize(500L, 23) == 500L) // capped at n
    (100L to 100000L by 7919L).foreach { n =>
      val nlist = TextOps.nlistFor(n)
      val s = TextOps.quantizerSampleSize(n, nlist)
      assert(s >= math.min(n, 64L * nlist), s"n=$n")
    }
  }

  test("kmeans++ seeding: deterministic, spread across planted clusters") {
    // 4 tight planted clusters in 8-d; kmeans++ must place one seed in
    // each (strided seeding could put several in one cluster)
    val sample = Array.tabulate(400) { i =>
      val c = i % 4
      Array.tabulate(8)(d => (if (d == c * 2) 10f else 0f) +
        (TextOps.mix64(i.toLong * 8 + d) % 100) / 1000f)
    }
    val s1 = TextOps.kmeansPlusPlusSeeds(sample, 4)
    val s2 = TextOps.kmeansPlusPlusSeeds(sample, 4)
    assert(s1.zip(s2).forall { case (a, b) => a.sameElements(b) }, "non-deterministic seeds")
    val clustersHit = s1.map(s => (0 until 4).minBy(c =>
      math.abs(s(c * 2) - 10f))).toSet
    assert(clustersHit.size == 4, s"seeds covered only $clustersHit")
    // full fit: centroid model invariants on the fitted codebook
    val cents = TextOps.kmeansCentroids(sample, 4)
    assert(cents.length == 4 && cents.forall(_.length == 8))
    sample.foreach { v =>
      val c = TextOps.nearestCentroid(v, cents)
      assert(c >= 0 && c < 4)
      assert(TextOps.nearestCentroids(v, cents, 3).size == 3)
    }
  }

  test("IVF exactness certificate: clustered data certifies at nprobe, clusterless expands") {
    // clustered: 4 tight clusters, query inside one, radii small =>
    // after scanning the query's own list nothing else can compete
    val cents = Array(Array(10f, 0f), Array(0f, 10f), Array(-10f, 0f), Array(0f, -10f))
      .map(TextOps.l2normalize(_))
    val radii = Array(0.05, 0.05, 0.05, 0.05)
    val q = TextOps.l2normalize(Array(10f, 0.2f))
    val dists = TextOps.centroidDistances(q, cents)
    assert(dists.head._2 == 0)
    // a k-th cosine close to 1 (own cluster): no other list can reach it
    assert(TextOps.certifiedExpansion(dists, radii, Set(0), kthCosine = 0.99).isEmpty)
    // clusterless: huge radii => everything can compete, all lists named
    val bigRadii = Array(2.0, 2.0, 2.0, 2.0)
    assert(TextOps.certifiedExpansion(dists, bigRadii, Set(0), kthCosine = 0.99) == Set(1, 2, 3))
    // fewer than k candidates (kth = -1): every unscanned list expands
    assert(TextOps.certifiedExpansion(dists, radii, Set(0), kthCosine = -1.0) == Set(1, 2, 3))
  }

  test("eval path carries the retired recall harnesses: exact top-k at m=8") {
    val expected = (0L until 8L).flatMap(q =>
      bruteIds(q, 5).zipWithIndex.map { case (id, i) => (q, i + 1, id) })
    val lsh = TextOps.annLshTopKEval(spark, sfDir, m = 8, k = 5)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(lsh == expected)
    val ivf = TextOps.annIvfTopKEval(spark, sfDir, m = 8, k = 5, nprobe = 6)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf == expected)
  }

  // ---------- persisted ANN index ----------

  private def bruteIds(q: Long, k: Int): Seq[Long] =
    TextOps.annTopK(spark, sfDir, q, k).collect().map(_.getLong(1)).toSeq

  test("persisted ANN index: pruned LSH and IVF probes equal brute-force top-k") {
    val dir = java.nio.file.Files.createTempDirectory("ann-idx").toString
    try {
      TextOps.buildAnnIndex(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"), dir)
      val expected = bruteIds(0L, 5)
      val lsh = TextOps.annLshIndexed(spark, sfDir, dir, 0L, 5, radius = 2)
      assert(lsh.collect().map(_.getLong(1)).toSeq == expected)
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5, nprobe = 6)
        .collect().map(_.getLong(1)).toSeq == expected)
      // the probe must be a pruned read, not a corpus scan: the scan reads
      // exactly the lsh files whose manifest key range meets a probed
      // (tbl, sig) key, and the sig filter is pushed down into parquet
      // (inspected on the lazy probe scan — the ranked result itself is a
      // local relation after the k-row collect)
      val scan = TextOps.annLshProbeScan(spark, sfDir, dir, 0L, radius = 2)
      val m = AnnTestUtil.manifest(spark, dir)
      val q = spark.read.parquet(s"$sfDir/embeddings.parquet").where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0)
      val keys = (0 until m.tables).flatMap(t => TextOps.probeSetR(
        TextOps.hyperplaneSig(q, m.planes, t), m.planes, 2).map(TextOps.lshKey(t, _)))
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      val selected = m.files.filter(f => f.section == "lsh" &&
        keys.exists(k => k >= f.minKey && k <= f.maxKey)).map(f => norm(s"$dir/${f.path}"))
      assert(selected.nonEmpty)
      assert(scan.inputFiles.map(norm).toSeq.sorted == selected.sorted,
        "probe scan must read exactly the files the manifest selects")
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("In(sig"), "sig filter not pushed to parquet")
      // layout invariants: both sections listed, every file present, key
      // ranges inside (tbl, sig) / list_id bounds, one row per (tbl,
      // vector) and per vector
      val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      val lshHi = TextOps.lshKey(m.tables - 1, (1 << m.planes) - 1)
      for ((section, rows, hi) <- Seq(("lsh", n * m.tables, lshHi), ("ivf", n, m.radii.length - 1L))) {
        val fs = m.files.filter(_.section == section)
        assert(fs.nonEmpty && fs.map(_.rows).sum == rows, s"$section rows")
        fs.foreach { f =>
          assert(new java.io.File(s"$dir/${f.path}").isFile, f.path)
          assert(0L <= f.minKey && f.minKey <= f.maxKey && f.maxKey <= hi, s"$section range $f")
        }
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("annLshTopKEval / annIvfTopKEval reproduce brute-force top-k per query") {
    val expected = (0L until 4L).flatMap(q =>
      bruteIds(q, 5).zipWithIndex.map { case (id, i) => (q, i + 1, id) })
    val lsh = TextOps.annLshTopKEval(spark, sfDir, m = 4, k = 5)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(lsh == expected)
    // near-orthogonal corpora scatter true NNs across lists; the radius
    // certificate detects that and expands past the initial nprobe=6, so
    // the eval is exact at EVERY sf — no per-sf nprobe tuning
    val ivf = TextOps.annIvfTopKEval(spark, sfDir, m = 4, k = 5, nprobe = 6)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf == expected)
  }

  test("annLshIndexedBatch: one pruned read, per-query top-k == brute force") {
    val dir = java.nio.file.Files.createTempDirectory("ann-idx-b").toString
    try {
      TextOps.buildAnnIndex(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"), dir)
      val expected = (0L until 4L).flatMap(q =>
        bruteIds(q, 5).zipWithIndex.map { case (id, i) => (q, i + 1, id) })
      val got = TextOps.annLshIndexedBatch(spark, sfDir, dir, 0L until 4L, k = 5, radius = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(got == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ensureAnnIndex recovery: squatter replaced, stale lock stolen, fresh lock honored") {
    // the shared-index name for this sfDir (mirrors ensureAnnIndex's key,
    // incl. the raw-path hash that disambiguates sanitization collisions)
    val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val indexDir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-ann-v${TextOps.AnnIndexVersion}-$name-" +
        (sfDir.hashCode & 0x7fffffff).toString)
    val lock = new java.io.File(indexDir.getPath + ".lock")
    def wreck(): Unit = { // a stale incomplete dir squatting on the name
      org.apache.commons.io.FileUtils.deleteDirectory(indexDir)
      new java.io.File(indexDir, "meta").mkdirs() // no manifest => !versionOk
    }
    def probeOk(): Unit =
      assert(TextOps.annLshIndexed(spark, sfDir, indexDir.getPath, 0L, 5, radius = 2)
        .collect().map(_.getLong(1)).toSeq == bruteIds(0L, 5))
    try {
      // 1. squatter, no lock: the builder elects itself, replaces, publishes
      wreck()
      assert(TextOps.ensureAnnIndex(spark, sfDir) == indexDir.getPath)
      probeOk()
      // 2. squatter + STALE lock (crashed holder): stolen, not wedged
      wreck()
      lock.createNewFile()
      lock.setLastModified(System.currentTimeMillis() - 3600L * 1000)
      TextOps.ensureAnnIndex(spark, sfDir)
      probeOk()
      assert(!lock.exists(), "stolen lock must be released after recovery")
    } finally {
      lock.delete()
      // leave a valid shared index behind for other suites/gate runs
      org.apache.commons.io.FileUtils.deleteDirectory(indexDir)
    }
  }

  test("IVF certificate property: exact vs brute on random clustered corpora with near-dups") {
    // the adversarial shape for the certificate: tight clusters whose
    // members include exact duplicates and 1e-3-jitter near-duplicates —
    // cosine gaps at/below Float precision, where a mis-sized epsilon
    // would certify a tying list away. IVF must equal the brute-force
    // path (annTopK, itself gate-validated against DuckDB) on every query.
    val s = spark
    import s.implicits._
    def synthCorpus(seed: Long, allSame: Boolean): Seq[(Long, Seq[Float])] = {
      val dim = 8
      def jit(h: Long): Float = ((TextOps.mix64(h) % 1000L) / 1e6).toFloat
      val base = Array.tabulate(dim)(d => 1f + (d % 3))
      (0L until 288L).map { id =>
        val c = if (allSame) 0 else (id % 24).toInt
        val v = Array.tabulate(dim) { d =>
          val center = if (allSame) base(d)
            else (if (d == c % dim) 10f else 1f) + (c / dim).toFloat
          // every 3rd vector is an EXACT duplicate of its cluster center;
          // the rest get sub-Float-precision-scale jitter
          if (id % 3 == 0) center else center + jit(seed * 7919 + id * dim + d) * 1e-3f
        }
        (id, v.toSeq)
      }
    }
    for (allSame <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("ann-prop").toString
      try {
        synthCorpus(if (allSame) 2L else 1L, allSame).toDF("vec_id", "embedding")
          .write.parquet(s"$dir/embeddings.parquet")
        val idx = s"$dir/index"
        TextOps.buildAnnIndex(spark, spark.read.parquet(s"$dir/embeddings.parquet"), idx)
        for (qid <- Seq(0L, 1L, 17L, 100L)) {
          val expected = TextOps.annTopK(spark, dir, qid, 5)
            .collect().map(_.getLong(1)).toSeq
          val got = TextOps.annIvfIndexed(spark, dir, idx, qid, 5, nprobe = 2)
            .collect().map(_.getLong(1)).toSeq
          assert(got == expected, s"allSame=$allSame qid=$qid: $got != $expected")
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("compactAnnIndex: batches fold into one partition set, probes unchanged, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ann-idx-cpt").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n = emb.count()
      TextOps.buildAnnIndex(spark, emb.where(col("vec_id") % 3 === 0), dir)
      TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 3 === 1), dir, "b1")
      TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 3 === 2), dir, "b2")
      val expected = bruteIds(0L, 5)
      def batches(): Seq[String] = AnnTestUtil.batches(spark, dir)
      assert(batches() == Seq("b0", "b1", "b2"))
      val folded = AnnTestUtil.manifest(spark, dir).batches.map(_.dir)

      TextOps.compactAnnIndex(spark, dir, epoch = "1")
      assert(batches() == Seq("compacted-1"), "superseded batches must be gone")
      // every live file sits in the one compacted batch dir; the folded
      // batches' dirs are physically deleted
      val m = AnnTestUtil.manifest(spark, dir)
      assert(m.files.forall(_.path.startsWith(m.batches.head.dir + "/")))
      folded.foreach(d => assert(!new java.io.File(s"$dir/$d").exists(), s"$d still on disk"))
      val dataDirs = new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory).map(_.getName).toSeq
      assert(dataDirs == Seq(m.batches.head.dir.stripPrefix("data/")), s"data dir holds $dataDirs")
      // row counts: exactly one row per vector (ivf), per (tbl, vector)
      // (lsh), and the manifest's exact counts agree
      assert(AnnTestUtil.section(spark, dir, "ivf").count() == n)
      assert(AnnTestUtil.section(spark, dir, "lsh").count() == n * m.tables)
      assert(m.counts.sum == n && m.n == n)
      // probes identical after compaction
      assert(TextOps.annLshIndexed(spark, sfDir, dir, 0L, 5, radius = 2)
        .collect().map(_.getLong(1)).toSeq == expected)
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5, nprobe = 6)
        .collect().map(_.getLong(1)).toSeq == expected)
      // re-running the same compaction is a no-op; a later epoch folds the
      // compacted batch again (the steady-state maintenance loop)
      TextOps.compactAnnIndex(spark, dir, epoch = "1")
      assert(AnnTestUtil.manifest(spark, dir).version == m.version, "re-run must publish nothing")
      TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 3 === 2), dir, "b3")
      // duplicate-tolerance: b3 re-ingests vectors already in compacted-1 —
      // probes must dedup on vec_id (the re-ingest contract)
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5, nprobe = 6)
        .collect().map(_.getLong(1)).toSeq == expected)
      TextOps.compactAnnIndex(spark, dir, epoch = "2")
      assert(batches() == Seq("compacted-2"))
      assert(AnnTestUtil.section(spark, dir, "ivf").count() == n,
        "duplicate vectors must collapse on compaction")
      assert(AnnTestUtil.manifest(spark, dir).counts.sum == n)
      assert(TextOps.annLshIndexed(spark, sfDir, dir, 0L, 5, radius = 2)
        .collect().map(_.getLong(1)).toSeq == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---------- v6 commit protocol: gate, crash points, races ----------

  private lazy val allVecs: Seq[(Long, Seq[Float])] = {
    val s = spark
    import s.implicits._
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]]).collect().toSeq
  }

  /** every probe over `dir` returns the exact top-5 of the `live` vectors,
    * and the index holds each live vector exactly once per section row */
  private def assertLive(dir: String, live: Long => Boolean, tag: String): Unit = {
    val s = spark
    import s.implicits._
    val vecs = allVecs.filter(v => live(v._1))
    for (q <- Seq(0L, 1L, 7L)) {
      val want = AnnTestUtil.bruteTopK(vecs, allVecs.find(_._1 == q).get._2, 5)
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, q, 5).collect().map(_.getLong(1)).toSeq == want,
        s"$tag: IVF q=$q")
      assert(TextOps.annLshIndexed(spark, sfDir, dir, q, 5, radius = 3)
        .collect().map(_.getLong(1)).toSeq == want, s"$tag: LSH q=$q")
    }
    val ivf = AnnTestUtil.section(spark, dir, "ivf").select(col("vec_id").as[Long]).collect()
    assert(ivf.sorted.toSeq == vecs.map(_._1).sorted, s"$tag: live vectors missing or doubled")
    assert(AnnTestUtil.manifest(spark, dir).counts.sum == vecs.length, s"$tag: counts")
  }

  test("v6 gate: append and compact refuse a v5 layout before any Spark job") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ann-v5").toString
    val sc = spark.sparkContext
    try {
      // a v5-layout directory: meta + radii + ivf tables, no manifest. Its
      // radii carry no counts, which made the v5 compaction size check 0
      // and collect the whole ivf table
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      emb.select(col("vec_id"), col("embedding"), lit(0).as("list_id"), lit("b0").as("batch"))
        .write.partitionBy("list_id", "batch").parquet(s"$dir/ivf")
      Seq((4, 4, 8, 500L, 5)).toDF("planes", "tables", "nlist", "n", "version")
        .write.parquet(s"$dir/meta")
      Seq((0, 0.5, "b0")).toDF("list_id", "radius", "batch")
        .write.partitionBy("batch").parquet(s"$dir/radii")
      sc.setJobGroup("v6-gate", "v6 gate")
      val errs = Seq(
        intercept[IllegalArgumentException](TextOps.compactAnnIndex(spark, dir, epoch = "1")),
        intercept[IllegalArgumentException](TextOps.appendAnnIndex(spark, emb, dir, "b1")))
      errs.foreach(e => assert(e.getMessage.contains("rebuild"), e.getMessage))
      // one job AFTER the refusals: once the status tracker shows it, any
      // job the refusals ran would show too (events arrive in order)
      sc.parallelize(Seq(1), 1).count() // exactly one job
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup("v6-gate").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(sc.statusTracker.getJobIdsForGroup("v6-gate").length == 1,
        "the refusals must run no Spark job")
    } finally {
      sc.clearJobGroup()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("probe query vectors use a fixed schema: ARRAY<DOUBLE> embeddings fail loudly") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ann-dbl").toString
    try {
      allVecs.map { case (id, v) => (id, v.map(_.toDouble)) }.toDF("vec_id", "embedding")
        .write.parquet(s"$dir/embeddings.parquet")
      val idx = s"$dir/idx"
      TextOps.buildAnnIndex(spark, allVecs.toDF("vec_id", "embedding"), idx)
      Seq[() => Any](
        () => TextOps.annTopK(spark, dir, 0L, 5).collect(),
        () => TextOps.annIvfIndexed(spark, dir, idx, 0L, 5).collect(),
        () => TextOps.annLshIndexed(spark, dir, idx, 0L, 5).collect(),
        () => TextOps.annLshIndexedBatch(spark, dir, idx, Seq(0L, 1L), 5).collect()
      ).foreach(f => intercept[Exception](f()))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ANN crash injection: append and compact stopped at every step stay exact") {
    val s = spark
    import s.implicits._
    val emb = allVecs.toDF("vec_id", "embedding")
    val even = emb.where(col("vec_id") % 2 === 0)
    val odd = emb.where(col("vec_id") % 2 === 1)
    val root = java.nio.file.Files.createTempDirectory("ann-crash").toString
    var runs = 0
    def fresh(appended: Boolean): String = {
      runs += 1
      val dir = s"$root/idx$runs"
      TextOps.buildAnnIndex(spark, even, dir)
      if (appended) TextOps.appendAnnIndex(spark, odd, dir, "b1")
      dir
    }
    try {
      val refAppend = AnnTestUtil.content(AnnTestUtil.manifest(spark, fresh(appended = true)))
      val refCompact = {
        val d = fresh(appended = true)
        TextOps.compactAnnIndex(spark, d, epoch = "1")
        AnnTestUtil.content(AnnTestUtil.manifest(spark, d))
      }
      type Stage = String => Either[graft.spark.AnnManifest, graft.spark.AnnCommit]
      for ((op, appended, stage, rerun, ref) <- Seq[(String, Boolean, Stage, String => Unit, Seq[Any])](
        ("append", false, d => TextOps.stageAppend(spark, odd, d, "b1"),
          d => TextOps.appendAnnIndex(spark, odd, d, "b1"), refAppend),
        ("compact", true, d => TextOps.stageCompact(spark, d, "1"),
          d => TextOps.compactAnnIndex(spark, d, "1"), refCompact))) {
        // stopped after the lsh write, and after both writes (before
        // publish): nothing live changed
        for (writes <- 1 to 2) {
          val dir = fresh(appended)
          val before = AnnTestUtil.manifest(spark, dir)
          stage(dir).toOption.get.writes.take(writes).foreach(_())
          assert(AnnTestUtil.manifest(spark, dir).version == before.version)
          assertLive(dir, id => appended || id % 2 == 0, s"$op stopped after $writes writes")
          rerun(dir)
          assert(AnnTestUtil.content(AnnTestUtil.manifest(spark, dir)) == ref, s"$op re-run")
          assertLive(dir, _ => true, s"$op re-run after $writes writes")
        }
        // stopped after publish, before cleanup: live, superseded dirs linger
        val dir = fresh(appended)
        val before = AnnTestUtil.manifest(spark, dir)
        val c = stage(dir).toOption.get
        c.writes.foreach(_())
        val m = c.publish()
        assert(AnnTestUtil.content(m) == ref)
        val gone = before.batches.filterNot(m.batches.contains).map(_.dir)
        assert(gone.nonEmpty == (op == "compact") && gone.forall(d => new java.io.File(s"$dir/$d").exists()))
        assertLive(dir, _ => true, s"$op stopped after publish")
        rerun(dir)
        assert(AnnTestUtil.manifest(spark, dir).version == m.version, s"$op re-run publishes nothing")
        gone.foreach(d => assert(!new java.io.File(s"$dir/$d").exists(), s"$op re-run left $d"))
        assertLive(dir, _ => true, s"$op re-run after publish")
      }
      // the production probes rank on the driver: no WindowExec anywhere
      val dir = s"$root/idx$runs"
      Seq(
        TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5).queryExecution.executedPlan.toString,
        TextOps.annLshIndexed(spark, sfDir, dir, 0L, 5, radius = 2).queryExecution.executedPlan.toString,
        TextOps.annTopK(spark, sfDir, 0L, 5).queryExecution.executedPlan.toString
      ).foreach(p => assert(!p.contains("Window"), s"WindowExec in probe plan:\n$p"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("concurrent appends from two threads both land in the final manifest") {
    val dir = java.nio.file.Files.createTempDirectory("ann-race").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def part(r: Int) = emb.where(col("vec_id") % 7 === r)
      TextOps.buildAnnIndex(spark, part(0), dir)
      def both(run: Int => Unit, rs: Seq[Int]): Unit = {
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val ts = rs.map(r => new Thread(() => try run(r) catch { case t: Throwable => errs.add(t); () }))
        ts.foreach(_.start()); ts.foreach(_.join())
        assert(errs.isEmpty, errs)
      }
      // free-running appends
      both(r => TextOps.appendAnnIndex(spark, part(r), dir, s"t$r"), Seq(1, 2))
      // publishes released together, so both resolve the same version and
      // race its successor's create: the loser must re-merge, not overwrite
      for (pair <- Seq(Seq(3, 4), Seq(5, 6))) {
        val cs = pair.map(r => r -> TextOps.stageAppend(spark, part(r), dir, s"t$r").toOption.get).toMap
        cs.values.foreach(_.writes.foreach(_()))
        val gate = new java.util.concurrent.CyclicBarrier(2)
        both(r => { gate.await(); cs(r).publish(); () }, pair)
      }
      val m = AnnTestUtil.manifest(spark, dir)
      assert(m.batches.map(_.id).sorted == "b0" +: (1 to 6).map(r => s"t$r"))
      val n = emb.count()
      assert(m.counts.sum == n && AnnTestUtil.section(spark, dir, "ivf").count() == n)
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5).collect().map(_.getLong(1)).toSeq ==
        bruteIds(0L, 5))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a probe holding a manifest whose files a compaction deleted stays exact") {
    val dir = java.nio.file.Files.createTempDirectory("ann-stale").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      TextOps.buildAnnIndex(spark, emb.where(col("vec_id") % 2 === 0), dir)
      TextOps.appendAnnIndex(spark, emb.where(col("vec_id") % 2 === 1), dir, "b1")
      val old = AnnTestUtil.manifest(spark, dir)
      TextOps.compactAnnIndex(spark, dir, epoch = "1")
      assert(old.files.forall(f => !new java.io.File(s"$dir/${f.path}").exists()))
      val q = allVecs.find(_._1 == 0L).get._2.toArray
      assert(TextOps.ivfProbe(spark, dir, old, q, 5).toSeq == bruteIds(0L, 5))
      assert(TextOps.lshProbe(spark, dir, old, q, 5, radius = 2).toSeq == bruteIds(0L, 5))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("quantizer sample survives arbitrary vec_id spaces (all-odd shard build)") {
    // an all-odd id shard big enough that the sampling stride is even:
    // the retired `vec_id % stride == 0` filter returned an EMPTY sample
    // here (driver crash in kmeans++ seeding); hash-based sampling is
    // distribution-independent
    val s = spark
    import s.implicits._
    val big = "/root/testdata/sf0.1"
    val dir = java.nio.file.Files.createTempDirectory("ann-idx-odd").toString
    try {
      val odd = spark.read.parquet(s"$big/embeddings.parquet")
        .where(col("vec_id") % 2 === 1)
      val n = odd.count()
      val target = TextOps.quantizerSampleSize(n, 7)
      // premise: the stride is even, so no all-odd id is a stride multiple
      assert((n / target) % 2 == 0 && n / target >= 2L,
        s"test premise: even stride >= 2 (n=$n, target=$target)")
      TextOps.buildAnnIndex(spark, odd, dir, nlistOverride = 7)
      // probe correctness over the shard: exact top-k vs local brute force
      val qv = odd.where(col("vec_id") === 1L).select(col("embedding"))
        .as[Seq[Float]].head().toArray
      def cos(v: Seq[Float]): Double = {
        var dot = 0.0; var nq = 0.0; var nv = 0.0; var i = 0
        while (i < qv.length && i < v.length) {
          dot += qv(i) * v(i); nq += qv(i) * qv(i); nv += v(i) * v(i); i += 1
        }
        if (nq == 0.0 || nv == 0.0) 0.0 else dot / math.sqrt(nq * nv)
      }
      val expected = odd.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
        .collect().map { case (id, v) => (id, cos(v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
      assert(TextOps.annIvfIndexed(spark, big, dir, 1L, 5, nprobe = 6)
        .collect().map(_.getLong(1)).toSeq == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("materialize=false: identical results, no cached intermediates leak") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def assertSame(lazyDf: org.apache.spark.sql.DataFrame,
        eagerDf: org.apache.spark.sql.DataFrame, cols: Seq[String]): Unit = {
      val l = lazyDf.orderBy(cols.map(col): _*).collect().map(_.toSeq).toSeq
      val e = eagerDf.orderBy(cols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(l == e)
    }
    val docs = synthDocs(Seq(
      (0L, TextFixtures.fpText(0L)), (1L, TextFixtures.fpText(0L)),
      (2L, TextFixtures.fpText(10L)), (3L, TextFixtures.fpText(20L))))
    assertSame(
      TextOps.simhashPairs(spark, docs, materialize = false),
      TextOps.simhashPairs(spark, docs),
      Seq("left_id", "right_id"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assertSame(
      TextOps.embedDupPairs(spark, emb, materialize = false),
      TextOps.embedDupPairs(spark, emb),
      Seq("left_id", "right_id"))
    assertSame(
      TextOps.annLshTopKEval(spark, sfDir, m = 4, k = 5, materialize = false),
      TextOps.annLshTopKEval(spark, sfDir, m = 4, k = 5),
      Seq("qid", "rank"))
    assertSame(
      TextOps.annIvfTopKEval(spark, sfDir, m = 4, k = 5, nprobe = 6, materialize = false),
      TextOps.annIvfTopKEval(spark, sfDir, m = 4, k = 5, nprobe = 6),
      Seq("qid", "rank"))
    // every operator released its internal persists on BOTH paths. The
    // eager paths' localCheckpoint RESULT blocks are excluded: their
    // lifetime is caller-owned by design (ContextCleaner reclaims them
    // when the returned frame is dropped — finishUnpersist scaladoc)
    val leaked = spark.sparkContext.getPersistentRDDs.filter { case (id, rdd) =>
      !before.contains(id) && !rdd.toString.contains("localCheckpoint")
    }
    assert(leaked.isEmpty, s"cached intermediates leaked: ${leaked.values}")
  }

  test("appendAnnIndex: batches land idempotently, probes see the union") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ann-idx-app").toString
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val half1 = emb.where(col("vec_id") % 2 === 0)
      val half2 = emb.where(col("vec_id") % 2 === 1)
      TextOps.buildAnnIndex(spark, half1, dir)
      TextOps.appendAnnIndex(spark, half2, dir, "b1")
      val expected = bruteIds(0L, 5) // brute force over the FULL corpus
      assert(TextOps.annLshIndexed(spark, sfDir, dir, 0L, 5, radius = 2)
        .collect().map(_.getLong(1)).toSeq == expected, "LSH probe after append")
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5, nprobe = 6)
        .collect().map(_.getLong(1)).toSeq == expected, "IVF probe after append")
      // idempotent retry: re-appending the same batch id changes nothing
      TextOps.appendAnnIndex(spark, half2, dir, "b1")
      assert(TextOps.annIvfIndexed(spark, sfDir, dir, 0L, 5, nprobe = 6)
        .collect().map(_.getLong(1)).toSeq == expected, "IVF probe after re-append")
      val rows = AnnTestUtil.section(spark, dir, "ivf").count()
      assert(rows == emb.count(), s"duplicate rows after idempotent re-append: $rows")
      // commit records: one batch per append, counts exact
      val m = AnnTestUtil.manifest(spark, dir)
      assert(m.batches.map(_.id).sorted == Seq("b0", "b1"))
      assert(m.counts.sum == emb.count() && m.n == emb.count())
      // reserved ids rejected: the build batch and compaction targets
      intercept[IllegalArgumentException] {
        TextOps.appendAnnIndex(spark, half2, dir, "b0")
      }
      intercept[IllegalArgumentException] {
        TextOps.appendAnnIndex(spark, half2, dir, "compacted-1")
      }
      // each batch owns its own directory holding both sections
      m.batches.foreach { b =>
        val fs = m.files.filter(_.batch == b.id)
        assert(fs.map(_.section).distinct.sorted == Seq("ivf", "lsh"), b.id)
        assert(fs.forall(f => f.path.startsWith(b.dir + "/") &&
          new java.io.File(s"$dir/${f.path}").isFile), b.id)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("l2normalize: unit norm, zero-vector passthrough") {
    val v = TextOps.l2normalize(Seq(3f, 4f))
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-6)
    assert(TextOps.l2normalize(Seq(0f, 0f)).toSeq == Seq(0f, 0f))
  }

  test("paragraphDedup: first (doc_id, idx) survives, order kept, all-dup doc -> empty") {
    val docs = synthDocs(Seq(
      0L -> "banner\n\nunique zero\n\nfooter",
      1L -> "banner\n\nunique one\n\nfooter",
      2L -> "banner\n\nfooter", // nothing unique: everything repeats
      3L -> "fresh\n\nbanner\n\nfresh")) // in-doc repeat: 2nd 'fresh' dropped too
    val got = TextOps.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "banner\n\nunique zero\n\nfooter")
    assert(got(1L) == "unique one")
    assert(got(2L) == "")
    assert(got(3L) == "fresh")
    // empty-paragraph runs never create units; determinism across reruns
    val tricky = synthDocs(Seq(4L -> "\n\na\n\n\n\nb\n\n", 5L -> "a"))
    val t = TextOps.paragraphDedup(tricky).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t(4L) == "a\n\nb") // leading/inner '\n\n' runs yield only empty units
    assert(t(5L) == "")
  }

  test("hostTemplateRemove: >frac drops, boundary keeps, small hosts exempt") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // host A, 4 docs: banner in all 4 (frac 1.0 > 0.5 -> template),
      // promo in exactly 2 (frac 0.5, NOT > 0.5 -> kept)
      (0L, "a", "banner\n\npromo\n\nbody zero"),
      (1L, "a", "banner\n\nbody one"),
      (2L, "a", "banner\n\npromo\n\nbody two"),
      (3L, "a", "banner\n\nbody three"),
      // host B, 2 docs < minHostDocs: identical banners still kept
      (4L, "b", "banner b\n\nbody four"),
      (5L, "b", "banner b\n\nbody five"))
      .toDF("doc_id", "host", "text")
    val got = TextOps.hostTemplateRemove(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "promo\n\nbody zero")
    assert(got(1L) == "body one")
    assert(got(2L) == "promo\n\nbody two")
    assert(got(3L) == "body three")
    assert(got(4L) == "banner b\n\nbody four")
    assert(got(5L) == "banner b\n\nbody five")
    // a doc that is ALL template -> ""
    val all = Seq((0L, "c", "x"), (1L, "c", "x"), (2L, "c", "x"))
      .toDF("doc_id", "host", "text")
    val g2 = TextOps.hostTemplateRemove(all).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(g2(0L) == "" && g2(1L) == "" && g2(2L) == "")
    // duplicate paragraph within ONE doc counts that doc once
    val dup = Seq((0L, "d", "p\n\np\n\nq0"), (1L, "d", "r1"), (2L, "d", "r2"))
      .toDF("doc_id", "host", "text")
    val g3 = TextOps.hostTemplateRemove(dup).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(g3(0L) == "p\n\np\n\nq0") // 1/3 docs -> not template
  }

  test("contaminationCheck: 13-gram membership, position counting, case-fold") {
    val s = spark
    import s.implicits._
    val gram13 = (1 to 13).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      0L -> s"lead in $gram13 tail words here", // one hit
      1L -> s"$gram13 middle $gram13", // the SAME gram twice -> 2 positions
      2L -> "totally unrelated text with plenty of words but no benchmark grams at all",
      3L -> gram13.toUpperCase, // case-folds to a hit
      4L -> "short doc") // sub-13 words: no grams
      .toDF("doc_id", "text")
    val bench = Seq(s"prefix $gram13 suffix").toDF("text")
    val got = TextOps.contaminationCheck(spark, docs, bench).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(0L) == ((1L, true)))
    assert(got(1L) == ((2L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((1L, true)))
    assert(got(4L) == ((0L, false)))
    // empty benchmark set: nothing flags
    val none = TextOps.contaminationCheck(spark, docs,
      Seq("too short").toDF("text")).collect()
    assert(none.forall(!_.getBoolean(2)))
  }

  test("bigramLmScore: hand-computed add-1 scores; sub-2-token docs score 0") {
    val docs = synthDocs(Seq(0L -> "a b a b", 1L -> "a b", 2L -> "c"))
    val got = TextOps.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // uni: a=3 b=3 c=1, V=3; cb(a,b)=3 cb(b,a)=1
    val llAB = math.log(4.0 / 6.0)
    val llBA = math.log(2.0 / 6.0)
    assert(math.abs(got(0L) - (2 * llAB + llBA) / 3) < 1e-12)
    assert(math.abs(got(1L) - llAB) < 1e-12)
    assert(got(2L) == 0.0)
    // separate train corpus: unseen bigrams get the smoothed floor
    val scoredOnTrain = TextOps.bigramLmScore(
      synthDocs(Seq(9L -> "x y")), train = docs).collect().head.getDouble(1)
    assert(math.abs(scoredOnTrain - math.log(1.0 / 3.0)) < 1e-12) // (0+1)/(0+3)
  }

  test("bpeTrain: classic corpus merges in order; greedy overlap; early stop") {
    val docs = synthDocs(Seq(0L ->
      ("low low low low low lower lower " +
        "newest newest newest newest newest newest widest widest widest")))
    val got = TextOps.bpeTrain(spark, docs, numMerges = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L), (6, "e", "w", 6L),
      (7, "ew", "est</w>", 6L), (8, "n", "ewest</w>", 6L),
      (9, "low", "</w>", 5L), (10, "d", "est</w>", 3L)))
    // greedy non-overlapping merge convention
    assert(TextOps.mergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    // early stop below minPairCount: 'aa bb' has no pair with count >= 2
    val tiny = TextOps.bpeTrain(spark, synthDocs(Seq(0L -> "ab cd")),
      numMerges = 5, minPairCount = 2).collect()
    assert(tiny.isEmpty)
    // apply side: token counts under the trained merges
    val counts = TextOps.bpeTokenCount(spark,
      synthDocs(Seq(0L -> "low lower newest widest", 1L -> "LOW unseen", 2L -> "")),
      TextOps.bpeTrain(spark, docs, numMerges = 10)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // low=1 lower=4 newest=1 widest=3; LOW case-folds to low=1;
    // 'unseen' = u n s e e n </w>: no trained merge applies -> 7 symbols
    assert(counts(0L) == 9L)
    assert(counts(1L) == 1L + 7L)
    assert(counts(2L) == 0L)
  }
}
