package perfbench

import graft.spark.{ExtractJob, TextOps}
import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outputs an oracle compared, and how many of them were wrong. */
final case class Check(attempted: Long, failed: Long) {
  def +(o: Check): Check = Check(attempted + o.attempted, failed + o.failed)
}

/** Wraps calls into the program's entry points. The untraced run passes
  * them straight through; the traced run times them and tags their jobs. */
trait Calls {
  def apply[T](name: String)(f: => T): T
}

object Calls {
  val direct: Calls = new Calls { def apply[T](name: String)(f: => T): T = f }
}

/** One benchmark workload. An instance lives for one run: [[generate]]
  * writes the seeded input under a directory, [[pass]] is the unit the
  * benchmark times, [[warmup]] runs one pass and checks every output. */
abstract class Workload(val name: String) {
  var dir: String = _
  var rows: Long = 0
  /** uncompressed input bytes a pass consumes: html, or vector payload */
  var inputBytes: Long = 0
  var inputHash: Long = 0
  def pagesPath: String = s"$dir/pages"
  /** session settings this workload needs beyond the common ones */
  def conf: Map[String, String] = Map.empty
  /** setups per untraced run, and the fewest timed passes at local[nproc]
    * and at local[1] */
  def setups: Int = 3
  def minPasses: (Int, Int) = (3, 2)

  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def pass(spark: SparkSession, k: Int, calls: Calls): Check
  def warmup(spark: SparkSession): Check
  /** on-disk (MB, data files) that pass `k` persisted */
  def stored(k: Int): (Double, Double) = (0.0, 0.0)
  def dropPass(k: Int): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("extract_dense", "ann_lifecycle")

  def apply(name: String, nproc: Int): Workload = name match {
    case "extract_dense" => new ExtractDense(nproc)
    case "ann_lifecycle" => new AnnLifecycle
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** four general-engine expressions (the traced run's select step), with
    * the generator column that holds each one's expected value */
  val Selects: Seq[(String, String)] = Seq(
    "ul.menu > li:nth-child(odd) a" -> "e1",
    "nav.top a[href^='/cat/3']" -> "e2",
    "tbody tr:not(.r0) td em" -> "e3",
    "li:has(span.badge) + li > a" -> "e4")

  def selectCols(html: Column): Seq[Column] = Seq(
    call_function("extract_text", html, lit(Selects(0)._1)),
    call_function("extract_attrs", html, lit(Selects(1)._1), lit("href")),
    call_function("extract_count", html, lit(Selects(2)._1)),
    call_function("extract_text", html, lit(Selects(3)._1)))

  /** writes `n` generated pages as `files` parquet files and records the
    * input's size and content hash on the workload */
  def writePages(spark: SparkSession, w: Workload, seed: Long, n: Long, files: Int): Unit = {
    import spark.implicits._
    val hash = spark.sparkContext.longAccumulator("perfbench.hash")
    val bytes = spark.sparkContext.longAccumulator("perfbench.bytes")
    spark.range(0L, n, 1L, files).as[Long].mapPartitions { it =>
      it.map { i =>
        val p = Gen.page(seed, i)
        hash.add(Gen.pageHash(p))
        bytes.add(p.html.length.toLong)
        p
      }
    }.write.mode("overwrite").parquet(w.pagesPath)
    w.rows = n
    w.inputBytes = bytes.value
    w.inputHash = hash.value
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** one failed output per mismatched value; missing or extra rows count too */
  def mismatches(df: DataFrame, pairs: Seq[(Column, Column)], expectRows: Long): Check = {
    val bad = pairs.map { case (got, want) => sum(when(got <=> want, 0L).otherwise(1L)) }
    val r = df.agg(count(lit(1)), bad: _*).head()
    val n = r.getLong(0)
    val wrong = (1 to pairs.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    Check(expectRows * pairs.length, math.min(expectRows * pairs.length, wrong + math.abs(n - expectRows) * pairs.length))
  }

  def dirSize(path: String): (Double, Double) = {
    val files = listData(new File(path))
    (files.map(_.length).sum / 1e6, files.length.toDouble)
  }

  private def listData(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listData)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}

import Workloads._

/** `extract_main(html)` into a noop sink over markup-dense pages. */
final class ExtractDense(nproc: Int) extends Workload("extract_dense") {
  val Pages = 36000L

  // one scan task per input file, so a local[1] and a local[n] pass split
  // the same work the same way
  override def conf: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> (1L << 30).toString,
    "spark.sql.files.openCostInBytes" -> (1L << 30).toString)

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    writePages(spark, this, seed, Pages, files = 4 * nproc)
  }

  def pass(spark: SparkSession, k: Int, calls: Calls): Check = {
    calls("extract_main") { noop(spark.read.parquet(pagesPath).select(call_function("extract_main", col("html")))) }
    Check(0, 0)
  }

  /** a pass (so the timed plan is compiled) and the oracle over every page */
  def warmup(spark: SparkSession): Check = {
    pass(spark, -1, Calls.direct)
    mismatches(spark.read.parquet(pagesPath),
      Seq(call_function("extract_main", col("html")) -> col("text")), rows)
  }
}

/** `ExtractJob.run` over a page workload's input: salted bucket shuffle,
  * extraction, partitioned parquet write and the lineage read-back. The
  * traced run of a page workload measures this pipeline once. */
object Pipeline {
  val Buckets = 32

  def run(spark: SparkSession, pagesPath: String, out: String): Unit =
    ExtractJob.run(spark, spark.read.parquet(pagesPath).select("url", "warc_ts", "html"), out,
      ExtractJob.Config(buckets = Buckets, runId = "perfbench"))

  /** lineage accounts for every page with no failed extraction, and every
    * url's text is byte-identical to the generator's */
  def check(spark: SparkSession, pagesPath: String, rows: Long, out: String): Check = {
    val r = spark.read.parquet(s"$out/lineage").agg(sum("doc_count"), sum("failure_count")).head()
    val docs = if (r.isNullAt(0)) 0L else r.getLong(0)
    val fails = if (r.isNullAt(1)) 0L else r.getLong(1)
    val got = spark.read.parquet(s"$out/extracted").select(col("url"), col("text").as("got"))
    val joined = spark.read.parquet(pagesPath).select("url", "text").join(got, Seq("url"), "full_outer")
    Check(2, (if (docs == rows) 0 else 1) + (if (fails == 0) 0 else 1)) +
      mismatches(joined, Seq(col("got") -> col("text")), rows)
  }
}

/** The persisted ANN index lifecycle: build (70% of the vectors), two
  * appends, compaction, eight exact IVF probes and one LSH batch probe. */
final class AnnLifecycle extends Workload("ann_lifecycle") {
  // one lifecycle pass takes ~10 s, mostly per-job overhead: a run affords
  // one setup and one pass per parallelism
  override def setups: Int = 1
  override def minPasses: (Int, Int) = (1, 1)
  val N = 1000
  val Dim = 64
  val Clusters = 24
  val K = 10
  val IvfQueries = 8
  val BatchQueries = 32
  private val QueryBase = 1000000000L
  private var vecs: Array[(Long, Array[Float])] = _
  private var queries: Array[(Long, Array[Float])] = _
  private var exact: Map[Long, Array[(Long, Double)]] = _
  /** mean recall@10 of the last checked LSH batch probe */
  var recall: Double = 0.0

  def idx(k: Int): String = s"$dir/idx-$k"

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    this.dir = dir
    vecs = Gen.vectors(seed, N, Dim, Clusters, 0L)
    queries = Gen.vectors(seed, IvfQueries + BatchQueries, Dim, Clusters, QueryBase)
    val nBase = N * 7 / 10
    val nA1 = N * 15 / 100
    def write(rows: Seq[(Long, Array[Float])], path: String): Unit =
      rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    write(vecs.take(nBase).toSeq, s"$dir/base")
    write(vecs.slice(nBase, nBase + nA1).toSeq, s"$dir/a1")
    write(vecs.drop(nBase + nA1).toSeq, s"$dir/a2")
    write((vecs ++ queries).toSeq, s"$dir/embeddings.parquet")
    exact = queries.map { case (q, v) => q -> Oracle.topK(v, vecs, K) }.toMap
    rows = N.toLong
    inputBytes = N.toLong * Dim * 4
    inputHash = (vecs ++ queries).map { case (i, v) => Gen.vectorHash(i, v) }.sum
  }

  def pass(spark: SparkSession, k: Int, calls: Calls): Check = {
    val at = idx(k)
    calls("build") { TextOps.buildAnnIndex(spark, spark.read.parquet(s"$dir/base"), at) }
    calls("append") { TextOps.appendAnnIndex(spark, spark.read.parquet(s"$dir/a1"), at, "a1") }
    calls("append") { TextOps.appendAnnIndex(spark, spark.read.parquet(s"$dir/a2"), at, "a2") }
    calls("compact") { TextOps.compactAnnIndex(spark, at, "0") }
    val ivf = queries.take(IvfQueries).map { case (q, _) =>
      q -> calls("probe_ivf") {
        TextOps.annIvfIndexed(spark, dir, at, q, K).collect().map(r => r.getAs[Long]("vec_id"))
      }
    }
    val batchIds = queries.drop(IvfQueries).map(_._1).toSeq
    val lsh = calls("probe_batch") {
      TextOps.annLshIndexedBatch(spark, dir, at, batchIds, K).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
    }
    val qv = queries.toMap
    val ivfBad = ivf.count { case (q, ids) => !Oracle.exactTopK(ids, exact(q), qv(q), vecs) }
    val byQ = lsh.groupBy(_._1)
    val lshBad = batchIds.count(q => !Oracle.validRanking(byQ.getOrElse(q, Array.empty).sortBy(_._2).map(_._3), qv(q), vecs, K))
    recall = batchIds.map(q => Oracle.recall(byQ.getOrElse(q, Array.empty).map(_._3), exact(q))).sum / batchIds.length
    Check(IvfQueries + BatchQueries, ivfBad + lshBad)
  }

  def warmup(spark: SparkSession): Check = {
    val c = pass(spark, -1, Calls.direct)
    dropPass(-1)
    c
  }

  override def stored(k: Int): (Double, Double) = dirSize(idx(k))
  override def dropPass(k: Int): Unit = rmrf(new File(idx(k)))
}

/** Brute-force references for the ANN probes, written without program code. */
object Oracle {
  /** the index's cosine: float products summed in double */
  def cosine(q: Array[Float], v: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < q.length) { dot += q(i) * v(i); na += q(i) * q(i); nb += v(i) * v(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  def topK(q: Array[Float], vecs: Array[(Long, Array[Float])], k: Int): Array[(Long, Double)] =
    vecs.map { case (id, v) => (id, cosine(q, v)) }.sortBy { case (id, c) => (-c, id) }.take(k)

  private val Tol = 1e-9

  /** `ids` is an exact top-k: k distinct ids, none scoring below the k-th
    * best (ties within float noise accepted) */
  def exactTopK(ids: Array[Long], want: Array[(Long, Double)], q: Array[Float],
      vecs: Array[(Long, Array[Float])]): Boolean = {
    val byId = vecs.toMap
    ids.length == want.length && ids.distinct.length == ids.length &&
      ids.forall(byId.contains) && {
        val kth = want.last._2
        ids.forall(id => cosine(q, byId(id)) >= kth - Tol)
      }
  }

  /** an LSH result: at most k distinct indexed ids in descending score */
  def validRanking(ids: Array[Long], q: Array[Float], vecs: Array[(Long, Array[Float])], k: Int): Boolean = {
    val byId = vecs.toMap
    ids.nonEmpty && ids.length <= k && ids.distinct.length == ids.length && ids.forall(byId.contains) && {
      val s = ids.map(id => cosine(q, byId(id)))
      s.indices.drop(1).forall(i => s(i) <= s(i - 1) + Tol)
    }
  }

  def recall(got: Array[Long], want: Array[(Long, Double)]): Double =
    got.toSet.intersect(want.map(_._1).toSet).size.toDouble / want.length
}
