package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.spark.TextOps

/** nlist > 4096: the two-level (coarse x fine) quantizer training path —
  * the round-4 verdict's documented 16M-vector shard boundary removed.
  * Exactness stays certificate-guaranteed regardless of the (approximate)
  * two-level list assignment, so the bar is brute-force equality. */
class QuantizerScaleSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  // NOT lazy-leaked: suites share one forked JVM, so a session left
  // active here would be returned by the next suite's getOrCreate()
  // WITHOUT that suite's extensions (call_function would then fail
  // order-dependently in the batch run).
  private var spark: org.apache.spark.sql.SparkSession = _

  override def beforeAll(): Unit = {
    spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-quantizer-scale-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** deterministic synthetic shard: `n` vectors in `dim` dims with mild
    * cluster structure (id-derived base + noise). */
  private def shard(n: Int, dim: Int, idOffset: Long = 0L) = {
    val s = spark
    import s.implicits._
    spark.range(n).select(col("id") + idOffset as "vec_id")
      .as[Long]
      .map { id =>
        val g = (id % 37).toInt // cluster seed
        val v = Array.tabulate(dim) { d =>
          val base = math.sin(g * 12.9898 + d * 78.233) * 0.8
          val noise = math.sin(id * 0.73 + d * 1.17) * 0.25
          (base + noise).toFloat
        }
        (id, v.toSeq)
      }.toDF("vec_id", "embedding")
  }

  private def bruteTopK(emb: org.apache.spark.sql.DataFrame, queryId: Long, k: Int): Seq[Long] = {
    val s = spark
    import s.implicits._
    val all = emb.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]]).collect()
    val q = all.find(_._1 == queryId).get._2
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length && i < b.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    all.map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSeq
  }

  test("nlist > 4096 builds two-level; indexed probe matches brute force exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ann-2lvl").toString + "/idx"
    val shardDir = java.nio.file.Files.createTempDirectory("ann-2lvl-sf").toString
    val emb = shard(3000, 8)
    emb.write.mode("overwrite").parquet(s"$shardDir/embeddings.parquet")
    try {
      TextOps.buildAnnIndex(spark, emb, dir, nlistOverride = 4500)
      // the two-level structure is persisted in the quantizer file
      val m = AnnTestUtil.manifest(spark, dir)
      val (starts, lens, cents) = m.quant match {
        case graft.spark.TwoLevelQuantizer(_, st, ln, c) => (st, ln, c)
        case other => fail(s"coarse table missing: $other")
      }
      val nlist = m.radii.length
      assert(nlist > 64, s"expected a real codebook, got nlist=$nlist")
      assert(cents.length == nlist, s"manifest nlist=$nlist vs centroids=${cents.length}")
      // spans cover the flat codebook exactly once
      val spans = starts.zip(lens).sortBy(_._1)
      assert(spans.map(_._2.toLong).sum == nlist)
      spans.sliding(2).foreach {
        case Array((s1, l1), (s2, _)) => assert(s1 + l1 == s2, "non-contiguous spans")
        case _ => ()
      }
      // exact top-k through the certificate for several queries
      for (qid <- Seq(0L, 7L, 1234L, 2999L)) {
        val got = TextOps.annIvfIndexed(spark, shardDir, dir, qid, 5)
          .orderBy("rank").collect().map(_.getLong(1)).toSeq
        assert(got == bruteTopK(emb, qid, 5), s"qid=$qid")
      }
      // append through the two-level assignment path stays exact
      val extra = shard(400, 8, idOffset = 10000L)
      TextOps.appendAnnIndex(spark, extra, dir, "g1")
      val allEmb = emb.union(extra)
      allEmb.write.mode("overwrite").parquet(s"$shardDir/embeddings.parquet")
      for (qid <- Seq(0L, 10123L)) {
        val got = TextOps.annIvfIndexed(spark, shardDir, dir, qid, 5)
          .orderBy("rank").collect().map(_.getLong(1)).toSeq
        assert(got == bruteTopK(allEmb, qid, 5), s"post-append qid=$qid")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(shardDir))
    }
  }

  test("two-level assignment lands every vector in a nonempty-span list") {
    val dir = java.nio.file.Files.createTempDirectory("ann-2lvl-b").toString + "/idx"
    val emb = shard(1200, 6)
    try {
      TextOps.buildAnnIndex(spark, emb, dir, nlistOverride = 4200)
      val nlist = AnnTestUtil.manifest(spark, dir).radii.length
      val assigned = AnnTestUtil.section(spark, dir, "ivf")
        .select("vec_id", "list_id").collect()
      assert(assigned.length == 1200, "every vector must be indexed")
      assert(assigned.forall { r => val l = r.getInt(1); l >= 0 && l < nlist })
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
