package perfbench

import java.io.File
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Checks of the benchmark's own code, run by `run.py --selftest`:
  *  - the same seed gives the same input hash, another seed another hash;
  *  - a planted wrong output is counted as failed by every oracle;
  *  - every metric has a valid name and a unit, matching BENCHMARK.json;
  *  - a pass never runs more task threads than nproc. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case NonFatal(e) => System.err.println(s"$name threw $e"); false }
    if (ok) passed += 1 else failures += 1
    System.out.println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}".r

  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", w) => w }.getOrElse("selftest-work"))
      .getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()

    check("metric names match [A-Za-z0-9_.-]+, are unique and have units") {
      val all = Main.EndToEnd ++ Main.PerLayer
      all.forall { case (n, u) => NameRe.matches(n) && UnitRe.matches(u) } &&
        all.map(_._1).distinct.length == all.length
    }
    check("BENCHMARK.json lists exactly the metrics the benchmark prints, with the same units") {
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File("BENCHMARK.json"))
      def listed(key: String) = {
        val it = m.get(key).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
      }
      listed("end_to_end") == Main.EndToEnd && listed("per_layer") == Main.PerLayer
    }

    check("same seed, same pages and vectors; another seed, other ones") {
      def pages(seed: Long) = (0L until 300L).map(i => Gen.pageHash(Gen.page(seed, i))).sum
      def vecs(seed: Long) = Gen.vectors(seed, 300, 64, 8, 0L).map { case (i, v) => Gen.vectorHash(i, v) }.sum
      pages(7) == pages(7) && pages(7) != pages(8) && vecs(7) == vecs(7) && vecs(7) != vecs(8)
    }

    val wl = new ExtractDense(nproc)
    val spark = Main.session(nproc, "selftest", work, wl.conf)
    try {
      def written(seed: Long): Long = {
        wl.dir = new File(work, s"pages-$seed").getPath
        Workloads.writePages(spark, wl, seed, 400L, files = nproc)
        wl.inputHash
      }
      check("the written input's hash repeats for a seed and differs across seeds") {
        val a = written(11); val b = written(12); val c = written(11)
        a == c && a != b
      }

      val pages = spark.read.parquet(wl.pagesPath).cache()
      val html = col("html")
      check("extract_dense oracle: 0 failures on the real output, 1 on a planted wrong text") {
        val clean = Workloads.mismatches(pages, Seq(call_function("extract_main", html) -> col("text")), 400L)
        val planted = pages.withColumn("text",
          when(col("url") === pages.select("url").head().getString(0), concat(col("text"), lit("x"))).otherwise(col("text")))
        val bad = Workloads.mismatches(planted, Seq(call_function("extract_main", html) -> col("text")), 400L)
        clean == Check(400, 0) && bad == Check(400, 1)
      }
      check("select-step oracle: 0 failures on the real output, 1 per planted wrong value") {
        val got = Workloads.selectCols(html)
        val want = Workloads.Selects.map(s => col(s._2))
        val clean = Workloads.mismatches(pages, got.zip(want), 400L)
        val first = pages.select("url").head().getString(0)
        val planted = pages.withColumn("e3", when(col("url") === first, col("e3") + 1).otherwise(col("e3")))
          .withColumn("e2", when(col("url") === first, array(lit("/cat/3/x"))).otherwise(col("e2")))
        val bad = Workloads.mismatches(planted, got.zip(want), 400L)
        clean == Check(1600, 0) && bad == Check(1600, 2)
      }
      check("a missing output row counts as failed") {
        val short = pages.where(col("url") =!= pages.select("url").head().getString(0))
        Workloads.mismatches(short, Seq(call_function("extract_main", html) -> col("text")), 400L).failed == 1
      }

      check("ANN oracle rejects a wrong neighbour and a mis-ordered ranking") {
        val vs = Gen.vectors(3, 500, 16, 4, 0L)
        val q = Gen.vectors(3, 1, 16, 4, 1000L).head._2
        val want = Oracle.topK(q, vs, 10)
        val ids = want.map(_._1)
        val outsider = vs.map(_._1).find(id => !ids.contains(id)).get
        Oracle.exactTopK(ids, want, q, vs) && !Oracle.exactTopK(ids.init :+ outsider, want, q, vs) &&
          Oracle.validRanking(ids, q, vs, 10) && !Oracle.validRanking(ids.reverse, q, vs, 10) &&
          Oracle.recall(ids.take(5), want) == 0.5
      }

      check(s"a pass never runs more than nproc=$nproc task threads") {
        val t = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        wl.pass(spark, 0, Calls.direct)
        Layers.runStep(spark, wl.pagesPath, "parse")
        t.drain()
        spark.sparkContext.removeSparkListener(t)
        spark.sparkContext.master == s"local[$nproc]" && t.maxRunning >= 1 && t.maxRunning <= nproc
      }
    } finally spark.stop()

    System.out.println(s"""{"selftest": "${if (failures == 0) "pass" else "fail"}", "passed": $passed, "failed": $failures}""")
    System.out.flush()
    if (failures > 0) sys.exit(1)
  }
}
