package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.control.NonFatal

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Generates the workload's input from the seed, runs it from this one JVM at
  * `local[nproc]`, checks every output against the workload's oracle and
  * prints one JSON line last: the end-to-end metrics, or with `--trace 1`
  * the per-layer metrics. End-to-end figures only ever come from an
  * untraced run. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "pass_s" -> "s",
    "input_mb_s" -> "MB/s",
    "input_mb_s_1core" -> "MB/s",
    "scaling_eff" -> "ratio",
    "heap_live_mb" -> "MB")

  private val SparkLayer: Seq[(String, String)] = Seq(
    "spark.sched.jobs" -> "count", "spark.sched.stages" -> "count", "spark.sched.tasks" -> "count",
    "spark.sched.task_ms_p50" -> "ms", "spark.sched.task_ms_p90" -> "ms", "spark.sched.task_ms_max" -> "ms",
    "spark.sched.skew" -> "ratio", "spark.sched.cpu_share" -> "share", "jvm.gc_share" -> "share",
    "jvm.gc_peak_heap_mb" -> "MB",
    "spark.scan.input_mb" -> "MB", "spark.exchange.shuffle_write_mb" -> "MB",
    "spark.exchange.shuffle_read_mb" -> "MB", "spark.exchange.fetch_wait_ms" -> "ms",
    "spark.exchange.spill_mb" -> "MB", "spark.write.output_mb" -> "MB", "spark.write.files" -> "count",
    "spark.write.commit_ms" -> "ms", "spark.driver.collect_mb" -> "MB")

  val AnnCalls: Seq[String] = Seq("build", "append", "compact", "probe_ivf", "probe_batch")
  val AnnWriters: Seq[String] = Seq("build", "append", "compact")

  /** Every per-layer metric, reported by every workload; a layer the
    * workload does not enter reads 0. */
  val PerLayer: Seq[(String, String)] =
    (Layers.Steps :+ "select").map(s => s"step.${s}_s" -> "s") ++
    Seq("self.scan_s", "self.dom_load_s", "self.html_parse_s", "self.main_walk_s", "self.expr_boundary_s").map(_ -> "s") ++
    Seq("html.parse_ns_per_kb" -> "ns/KB", "html.alloc_b_per_kb" -> "B/KB", "html.nodes_per_kb" -> "1/KB",
      "query.main_ns_per_kb" -> "ns/KB", "query.find_ns_per_kb" -> "ns/KB") ++
    (1 to 4).map(i => s"query.find_ns_per_kb.s$i" -> "ns/KB") ++
    Seq("query.matched_per_doc" -> "count", "query.parse_share" -> "share", "selector.parse_us" -> "us") ++
    SparkLayer ++
    Seq("extractjob.probe_s", "extractjob.write_s", "extractjob.lineage_s").map(_ -> "s") ++
    Seq("ann.build_s" -> "s", "ann.append_s" -> "s", "ann.compact_s" -> "s", "ann.probe_ivf_ms" -> "ms",
      "ann.probe_batch_s" -> "s") ++
    AnnCalls.map(c => s"ann.jobs.$c" -> "count") ++
    AnnWriters.map(c => s"ann.files.$c" -> "count") ++
    Seq("ann.recall_at_10" -> "share", "stored_mb" -> "MB", "stored_files" -> "count",
      "trace.overhead_share" -> "share")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, spans: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1", need("work"),
      m.getOrElse("spans", s"${need("work")}/spans.jsonl"))
  }

  /** a fresh local session with the program's SQL extensions; all Spark
    * scratch space stays under `work` */
  def session(cores: Int, name: String, work: File, conf: Map[String, String]): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) { SelfTest.main(argv.drop(1)); return }
    val a = parseArgs(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val wl = Workloads(a.workload, nproc)
    val work = new File(a.work).getAbsoluteFile
    work.mkdirs()
    val r = new Runner(wl, a.seed, work, nproc, new File(a.spans))
    val (check, metrics) =
      try { if (a.trace) r.traced(a.seconds) else r.untraced(a.seconds) }
      finally r.stop()
    val units = (EndToEnd ++ PerLayer).toMap
    val shown = (if (a.trace) PerLayer else EndToEnd).map(_._1)
    val body = shown.map { n =>
      s"${Json.str(n)}: {\"value\": ${Json.num(metrics.getOrElse(n, 0.0))}, \"unit\": ${Json.str(units(n))}}"
    }.mkString(", ")
    System.out.println(s"""{"correct": ${check.failed == 0}, "attempted": ${math.max(1L, check.attempted)}, """ +
      s""""failed": ${check.failed}, "metrics": {$body}}""")
    System.out.flush()
  }
}

/** Holds the session and the workload of one run. */
final class Runner(wl: Workload, seed: Long, work: File, nproc: Int, spanFile: File) {
  private var spark: SparkSession = _
  private var check = Check(0, 0)
  private val heap = new HeapWatch
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def start(cores: Int): Unit = {
    stop()
    spark = Main.session(cores, wl.name, work, wl.conf)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** session, input and one checked warmup pass: what a user pays before
    * the first timed pass */
  private def setup(cores: Int, rep: Int): Double = {
    val t0 = now()
    start(cores)
    val t1 = now()
    wl.generate(spark, new File(work, s"input-$rep").getPath, seed)
    val t2 = now()
    val c = try wl.warmup(spark) catch {
      case NonFatal(e) => log(s"warmup failed: $e"); Check(math.max(1L, wl.rows), math.max(1L, wl.rows))
    }
    check += c
    val dt = now() - t0
    log(f"setup $rep: ${dt}%.3f s (session ${t1 - t0}%.2f, input ${t2 - t1}%.2f, warmup ${now() - t2}%.2f), input ${wl.rows} rows / ${wl.inputBytes / 1e6}%.1f MB, " +
      f"input_hash=${wl.inputHash}%016x, warmup check ${c.failed}/${c.attempted} failed")
    dt
  }

  /** timed passes until `budget` seconds are spent, at least `min` of them */
  private def passes(budget: Double, min: Int, from: Int, calls: Int => Calls,
      after: (Int, Double) => Unit = (_, _) => ()): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val end = now() + budget
    var k = from
    while (times.length < min || now() < end) {
      val t0 = now()
      val c = try wl.pass(spark, k, calls(k)) catch {
        case NonFatal(e) => log(s"pass $k failed: $e"); Check(math.max(1L, wl.rows), math.max(1L, wl.rows))
      }
      val dt = now() - t0
      times += dt
      check += c
      after(k, dt)
      wl.dropPass(k)
      heap.collect()
      k += 1
    }
    log(s"passes at local[${spark.sparkContext.defaultParallelism}]: ${times.map(t => f"$t%.3f").mkString(" ")}")
    times.toSeq
  }

  /** End-to-end run: the workload's setups (median reported), then timed
    * passes at local[nproc] and at local[1] on the same input. */
  def untraced(seconds: Int): (Check, Map[String, Double]) = {
    val setups = (0 until wl.setups).map { rep =>
      if (rep > 0) Workloads.rmrf(new File(work, s"input-${rep - 1}"))
      setup(nproc, rep)
    }
    val (minMulti, minSingle) = wl.minPasses
    heap.start()
    val multi = passes(seconds * 0.6, minMulti, 0, _ => Calls.direct)
    heap.stop()
    start(1)
    val single = passes(seconds * 0.4, minSingle, 1000, _ => Calls.direct)
    val mb = wl.inputBytes / 1e6
    val passS = median(multi)
    val rate = mb / passS
    val rate1 = mb / median(single)
    (check, Map(
      "setup_s" -> median(setups),
      "pass_s" -> passS,
      "input_mb_s" -> rate,
      "input_mb_s_1core" -> rate1,
      "scaling_eff" -> rate / (nproc * rate1),
      "heap_live_mb" -> heap.live / 1e6))
  }

  /** Traced run: untraced then traced passes (for the tracing overhead),
    * the listener's Spark-layer metrics, the entry-point call timings, and
    * for page workloads the cumulative steps and per-call counters. */
  def traced(seconds: Int): (Check, Map[String, Double]) = {
    setup(nproc, 0)
    val (minMulti, _) = wl.minPasses
    val untracedS = median(passes(seconds * 0.25, minMulti, 0, _ => Calls.direct))
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    sc.addSparkListener(tracer)
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]

    val calls = (k: Int) => new TimedCalls(sc, s"p$k", spans)
    heap.start()
    val tracedTimes = passes(seconds * 0.35, minMulti, 100, k => {
      sc.setLocalProperty(Tracer.PassKey, s"p$k")
      spans += Span(s"pass:p$k", "pass", null, s"p$k", System.currentTimeMillis(), -1L)
      calls(k)
    }, after = (k, dt) => {
      sc.setLocalProperty(Tracer.PassKey, null)
      tracer.drain()
      val i = spans.lastIndexWhere(_.id == s"pass:p$k")
      spans(i) = spans(i).copy(endMs = spans(i).startMs + (dt * 1000).toLong)
      perPass += passLayer(tracer, s"p$k", spans(i), dt) ++ storedMetrics(k)
    })
    heap.stop()
    val m = mutable.HashMap.empty[String, Double]
    Main.PerLayer.foreach { case (n, _) => m(n) = 0.0 }
    m("jvm.gc_peak_heap_mb") = heap.peak / 1e6
    perPass.flatMap(_.keys).distinct.foreach(n => m(n) = median(perPass.map(_.getOrElse(n, 0.0)).toSeq))
    m("trace.overhead_share") = median(tracedTimes) / untracedS - 1.0
    wl match {
      case a: AnnLifecycle => m("ann.recall_at_10") = a.recall
      case _: ExtractDense => pageLayers(tracer, m)
      case _ =>
    }
    tracer.drain()
    Tracer.writeSpans(spanFile, spans.toSeq ++ tracer.spans())
    log(s"spans written to ${spanFile.getPath}")
    (check, m.toMap)
  }

  /** the page workload's layer probes: cumulative steps, per-call counters,
    * the select step and one `ExtractJob.run`, each tagged as its own pass */
  private def pageLayers(tracer: Tracer, m: mutable.HashMap[String, Double]): Unit = {
    // round-robin over the steps, so drift in the machine's speed spreads
    // over all of them instead of biasing their differences
    val steps = Layers.Steps :+ "select"
    val stepTimes = (0 until 3).flatMap(i => steps.map(s =>
      s -> tagged(s"step.$s.$i")(Layers.runStep(spark, wl.pagesPath, s))._2))
    val stepS = steps.map(s => s -> median(stepTimes.filter(_._1 == s).map(_._2))).toMap
    stepS.foreach { case (s, v) => m(s"step.${s}_s") = v }
    m("self.scan_s") = stepS("scan")
    m("self.dom_load_s") = stepS("arena") - stepS("scan")
    m("self.html_parse_s") = stepS("parse") - stepS("arena")
    m("self.main_walk_s") = stepS("extract") - stepS("parse")
    m("self.expr_boundary_s") = stepS("expr") - stepS("extract")
    val (c, _) = tagged("counters")(Layers.counters(spark, wl.pagesPath))
    m ++= Layers.counterMetrics(c)
    tracer.drain()
    // the select step parses every page once per expression
    val cpu = median((0 until 3).map(i => tracer.cpuS(s"step.select.$i")))
    m("query.parse_share") = c.parseNs / 1e9 * Workloads.Selects.length / cpu
    check += Workloads.mismatches(spark.read.parquet(wl.pagesPath),
      Workloads.selectCols(col("html")).zip(Workloads.Selects.map(s => col(s._2))), wl.rows)
    m("selector.parse_us") = Layers.selectorParseUs()
    val out = new File(work, "extractjob").getPath
    val (_, wallS) = tagged("extractjob")(Pipeline.run(spark, wl.pagesPath, out))
    tracer.drain()
    check += Pipeline.check(spark, wl.pagesPath, wl.rows, out)
    m ++= pipelinePhases(tracer, spans.find(_.id == "pass:extractjob").get, wallS)
  }

  /** runs `f` as a pass of its own: its jobs carry the pass id */
  private def tagged[T](pass: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PassKey, pass)
    val t0 = System.currentTimeMillis()
    try {
      val r = f
      val t1 = System.currentTimeMillis()
      spans += Span(s"pass:$pass", "pass", null, pass, t0, t1)
      (r, (t1 - t0) / 1e3)
    } finally sc.setLocalProperty(Tracer.PassKey, null)
  }

  private def storedMetrics(k: Int): Map[String, Double] = {
    val (mb, files) = wl.stored(k)
    Map("stored_mb" -> mb, "stored_files" -> files)
  }

  /** listener metrics of one traced pass plus its entry-point calls */
  private def passLayer(t: Tracer, pass: String, span: Span, wallS: Double): Map[String, Double] = {
    val base = t.passMetrics(pass, wallS, nproc)
    wl match {
      case _: AnnLifecycle =>
        // per call: a call name repeats (two appends, eight IVF probes)
        def perCall(c: String, total: Double) =
          total / math.max(1, t.callJobs(pass, c).map(_.call).distinct.length)
        base ++ callTimes(pass) ++
          Main.AnnCalls.map(c => s"ann.jobs.$c" -> perCall(c, t.callJobs(pass, c).length)) ++
          Main.AnnWriters.map(c => s"ann.files.$c" -> perCall(c, t.callFiles(pass, c)))
      case _ => base
    }
  }

  /** `ExtractJob.run` split at its output write: the resume probe before
    * it, the write with its commit, and the lineage read-back after it */
  private def pipelinePhases(t: Tracer, span: Span, wallS: Double): Map[String, Double] = {
    val js = t.passJobs(span.pass).sortBy(_.start)
    js.map(_.execId).distinct.find(e => e >= 0 && t.execFiles(e) > 0) match {
      case Some(e) =>
        val ws = js.filter(_.execId == e).map(_.start).min
        val we = t.execEnd.getOrElse(e, js.filter(_.execId == e).map(_.end).max)
        Map("extractjob.probe_s" -> (ws - span.startMs) / 1e3,
          "extractjob.write_s" -> (we - ws) / 1e3,
          "extractjob.lineage_s" -> (span.startMs + (wallS * 1000).toLong - we) / 1e3)
      case None => Map.empty
    }
  }

  /** seconds per call of each ANN entry point in one pass */
  private def callTimes(pass: String): Map[String, Double] = {
    def durs(c: String) = spans.filter(s => s.pass == pass && s.name == c && s.id.startsWith("call:"))
      .map(s => (s.endMs - s.startMs) / 1e3)
    def mean(c: String) = { val d = durs(c); if (d.isEmpty) 0.0 else d.sum / d.length }
    Map("ann.build_s" -> mean("build"), "ann.append_s" -> mean("append"), "ann.compact_s" -> mean("compact"),
      "ann.probe_ivf_ms" -> mean("probe_ivf") * 1e3, "ann.probe_batch_s" -> mean("probe_batch"))
  }
}

/** Times each entry-point call and tags the jobs it starts. */
final class TimedCalls(sc: org.apache.spark.SparkContext, pass: String, spans: mutable.ArrayBuffer[Span]) extends Calls {
  private val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  def apply[T](name: String)(f: => T): T = {
    val i = seen(name); seen(name) = i + 1
    val id = s"$name#$i"
    sc.setLocalProperty(Tracer.CallKey, id)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spans += Span(s"call:$pass:$id", name, s"pass:$pass", pass, t0, System.currentTimeMillis())
      sc.setLocalProperty(Tracer.CallKey, null)
    }
  }
}

/** Heap in use after full collections while watching: `live` is the largest
  * heap left after the collection forced at the end of each timed pass;
  * `peak` also counts every major collection the JVM ran during a pass. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var on = false
  private var peakB = 0L
  private var liveB = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapWatch.this.synchronized { peakB = math.max(peakB, used) }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def start(): Unit = synchronized { peakB = 0L; liveB = 0L; on = true }

  def collect(): Unit = if (on) {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { liveB = math.max(liveB, used); peakB = math.max(peakB, used) }
  }

  /** notifications arrive on their own thread: let the last ones land */
  def stop(): Unit = { Thread.sleep(50); on = false }

  def live: Double = synchronized(liveB.toDouble)
  def peak: Double = synchronized(peakB.toDouble)
}
