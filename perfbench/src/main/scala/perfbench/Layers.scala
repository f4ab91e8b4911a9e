package perfbench

import graft.dom.Arena
import graft.html.{ParseOptions, Parser}
import graft.query.{Engine, VDoc}
import graft.selector.Selector
import graft.spark.Extractor
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Layer measurements of the page workload, taken from outside the program
  * by calling its public entry points from a benchmark `mapPartitions`. */
object Layers {

  /** Cumulative steps: each adds one call to the one before it, so the
    * difference between consecutive steps is the added layer's self time.
    * The last step is the SQL expression itself. A separate `select` step
    * projects the four general-engine expressions of [[Workloads.Selects]]. */
  val Steps: Seq[String] = Seq("scan", "arena", "parse", "extract", "expr")

  def runStep(spark: SparkSession, pages: String, step: String): Unit = {
    import spark.implicits._
    val html = spark.read.parquet(pages).select("html")
    step match {
      case "expr" =>
        return Workloads.noop(html.select(org.apache.spark.sql.functions.call_function("extract_main", html("html"))))
      case "select" =>
        return Workloads.noop(html.select(Workloads.selectCols(html("html")): _*))
      case _ =>
    }
    val out = html.as[Array[Byte]].mapPartitions { it =>
      val arena = new Arena(1024)
      it.map { h =>
        step match {
          case "scan" => h.length
          case "arena" => arena.resetFromUtf8(h); arena.n
          case "parse" => Parser.parseIntoUtf8(arena, h, ParseOptions.compat); arena.n
          case _ => val t = Extractor.extractMainCodegen(h); if (t == null) -1 else t.numBytes()
        }
      }
    }
    Workloads.noop(out.toDF())
  }

  /** per-call sums of one partition */
  final case class Counters(docs: Long, bytes: Long, parseNs: Long, allocB: Long, nodes: Long,
      extractNs: Long, find1: Long, find2: Long, find3: Long, find4: Long, matched: Long)

  /** Times each entry point per page: `Parser.parseIntoUtf8` (with the
    * thread's allocated bytes), `Engine.findSelector` for each select-step
    * expression on the parsed tree, and `Extractor.extractMainCodegen`. */
  def counters(spark: SparkSession, pages: String): Counters = {
    import spark.implicits._
    val sels = Workloads.Selects.map(_._1)
    spark.read.parquet(pages).select("html").as[Array[Byte]].mapPartitions { it =>
      val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      val compiled = sels.map(s => Selector.parse(s).fold(e => throw new IllegalStateException(e), identity)).toArray
      val arena = new Arena(1024)
      val find = new Array[Long](compiled.length)
      var docs, bytes, parseNs, allocB, nodes, extractNs, matched = 0L
      it.foreach { h =>
        val a0 = mx.getCurrentThreadAllocatedBytes
        val t0 = System.nanoTime()
        Parser.parseIntoUtf8(arena, h, ParseOptions.compat)
        val t1 = System.nanoTime()
        allocB += mx.getCurrentThreadAllocatedBytes - a0
        parseNs += t1 - t0
        nodes += arena.n
        val doc = new VDoc(arena)
        var s = 0
        while (s < compiled.length) {
          val f0 = System.nanoTime()
          matched += Engine.findSelector(doc, ArrayBuffer(0), compiled(s)).length
          find(s) += System.nanoTime() - f0
          s += 1
        }
        val e0 = System.nanoTime()
        Extractor.extractMainCodegen(h)
        extractNs += System.nanoTime() - e0
        docs += 1
        bytes += h.length
      }
      Iterator.single(Counters(docs, bytes, parseNs, allocB, nodes, extractNs, find(0), find(1), find(2), find(3), matched))
    }.collect().reduce { (a, b) =>
      Counters(a.docs + b.docs, a.bytes + b.bytes, a.parseNs + b.parseNs, a.allocB + b.allocB,
        a.nodes + b.nodes, a.extractNs + b.extractNs, a.find1 + b.find1, a.find2 + b.find2,
        a.find3 + b.find3, a.find4 + b.find4, a.matched + b.matched)
    }
  }

  def counterMetrics(c: Counters): Map[String, Double] = {
    val kb = c.bytes / 1024.0
    val finds = Seq(c.find1, c.find2, c.find3, c.find4)
    Map(
      "html.parse_ns_per_kb" -> c.parseNs / kb,
      "html.alloc_b_per_kb" -> c.allocB / kb,
      "html.nodes_per_kb" -> c.nodes / kb,
      "query.main_ns_per_kb" -> math.max(0L, c.extractNs - c.parseNs) / kb,
      "query.find_ns_per_kb" -> finds.sum / kb,
      "query.matched_per_doc" -> c.matched.toDouble / c.docs) ++
      finds.zipWithIndex.map { case (f, i) => s"query.find_ns_per_kb.s${i + 1}" -> f / kb }
  }

  /** median microseconds of one `Selector.parse` over the benchmark's
    * selectors and the main-content recipe's selectors */
  def selectorParseUs(): Double = {
    val all = Workloads.Selects.map(_._1) ++ Extractor.Recipe.DefaultMain :+ Extractor.Recipe.DefaultRemove
    val times = (0 until 200).flatMap { _ =>
      all.map { s =>
        val t0 = System.nanoTime()
        Selector.parse(s)
        (System.nanoTime() - t0) / 1e3
      }
    }.sorted
    times(times.length / 2)
  }
}
