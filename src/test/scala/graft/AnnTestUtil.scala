package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{AnnManifest, TextOps}

/** Reads a persisted ANN index through its manifest, for the layout
  * assertions of the ANN specs. */
object AnnTestUtil {
  def manifest(spark: SparkSession, dir: String): AnnManifest =
    TextOps.annIndex(spark, dir, fresh = true).getOrElse(sys.error(s"no manifest at $dir"))

  def batches(spark: SparkSession, dir: String): Seq[String] =
    manifest(spark, dir).batches.map(_.id).sorted

  /** every live row of `section` ("lsh" | "ivf"), tagged with its batch id */
  def section(spark: SparkSession, dir: String, name: String): DataFrame = {
    val m = manifest(spark, dir)
    m.batches.map { b =>
      spark.read.parquet(m.files.filter(f => f.section == name && f.batch == b.id)
        .map(f => s"$dir/${f.path}"): _*).withColumn("batch", lit(b.id))
    }.reduce(_ unionByName _)
  }

  /** a manifest's content without its fresh directory names */
  def content(m: AnnManifest): Seq[Any] = Seq(m.version, m.planes, m.tables,
    m.quant.cents.map(_.toSeq).toSeq, m.radii.toSeq, m.counts.toSeq,
    m.batches.map(b => (b.id, b.rows)),
    m.files.map(f => (f.section, f.batch, f.rows, f.minKey, f.maxKey)).sortBy(_.toString),
    m.retired.length)

  /** exact top-k ids by cosine over `vecs`, written without index code */
  def bruteTopK(vecs: Seq[(Long, Seq[Float])], q: Seq[Float], k: Int): Seq[Long] = {
    def cos(v: Seq[Float]): Double = {
      var dot = 0.0; var nq = 0.0; var nv = 0.0
      var i = 0
      while (i < q.length && i < v.length) {
        dot += q(i) * v(i); nq += q(i) * q(i); nv += v(i) * v(i); i += 1
      }
      if (nq == 0.0 || nv == 0.0) 0.0 else dot / math.sqrt(nq * nv)
    }
    vecs.map { case (id, v) => (id, cos(v)) }.sortBy { case (id, c) => (-c, id) }
      .take(k).map(_._1)
  }
}
