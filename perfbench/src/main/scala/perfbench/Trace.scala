package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One recorded interval. Parents form pass -> job -> stage -> task, or
  * pass -> call; every span of one pass carries that pass's id. */
final case class Span(id: String, name: String, parent: String, pass: String,
    startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty)

/** Task record kept by the listener; times in ms, sizes in bytes. */
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, inputB: Long, shWriteB: Long, shReadB: Long, fetchWaitMs: Long,
    spillB: Long, outB: Long, resultB: Long, result: Boolean)

final case class JobRec(id: Int, pass: String, call: String, execId: Long, start: Long, var end: Long)

/** The benchmark's own SparkListener. Jobs are attributed to a pass (and
  * optionally an entry-point call) through the local properties the
  * benchmark sets around them. Everything stays in memory until the run
  * ends. Listener callbacks run on Spark's listener thread; readers call
  * [[drain]] first and then read under the same lock. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stageTimes = mutable.HashMap.empty[Int, (Long, Long, Int)]
  val execEnd = mutable.HashMap.empty[Long, Long]
  val execFiles = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val accName = mutable.HashMap.empty[Long, String]
  private var running = 0
  var maxRunning = 0

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    val exec = Option(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    jobs += JobRec(e.jobId, prop(Tracer.PassKey), prop(Tracer.CallKey), exec, e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageTimes(i.stageId) = (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    running += 1
    if (running > maxRunning) maxRunning = running
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    running -= 1
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.resultSize, e.taskType == "ResultTask")
  }

  private def learn(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accName(m.accumulatorId) = m.name)
    p.children.foreach(learn)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => learn(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate => learn(s.sparkPlanInfo)
      case s: SparkListenerDriverAccumUpdates =>
        s.accumUpdates.foreach { case (id, v) =>
          if (accName.get(id).contains("number of written files")) execFiles(s.executionId) += v
        }
      case s: SparkListenerSQLExecutionEnd => execEnd(s.executionId) = s.time
      case _ =>
    }
  }

  /** task spans with their stage, job and pass ancestry */
  def spans(): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    val jobPass = jobs.map(j => j.id -> j).toMap
    jobs.foreach { j =>
      val parent = if (j.call != null) s"call:${j.pass}:${j.call}" else s"pass:${j.pass}"
      out += Span(s"job:${j.id}", "job", parent, j.pass, j.start, j.end)
    }
    stageTimes.foreach { case (s, (st, en, n)) =>
      val j = stageJob.get(s).flatMap(jobPass.get)
      out += Span(s"stage:$s", "stage", j.map(x => s"job:${x.id}").orNull,
        j.map(_.pass).orNull, st, en, Map("tasks" -> n.toDouble))
    }
    tasks.zipWithIndex.foreach { case (t, k) =>
      val j = stageJob.get(t.stage).flatMap(jobPass.get)
      out += Span(s"task:$k", "task", s"stage:${t.stage}", j.map(_.pass).orNull, t.launch, t.finish,
        Map("cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs.toDouble, "input_b" -> t.inputB.toDouble,
          "shuffle_write_b" -> t.shWriteB.toDouble, "shuffle_read_b" -> t.shReadB.toDouble,
          "spill_b" -> t.spillB.toDouble, "output_b" -> t.outB.toDouble))
    }
    out.toSeq
  }

  /** Spark-layer metrics of one pass (ids as set by [[Tracer.PassKey]]). */
  def passMetrics(pass: String, wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val js = jobs.filter(_.pass == pass)
    val jobIds = js.map(_.id).toSet
    val stages = stageJob.collect { case (s, j) if jobIds(j) && stageTimes.contains(s) => s }.toSet
    val ts = tasks.filter(t => stages(t.stage))
    val durs = ts.map(t => (t.finish - t.launch).toDouble).sorted
    def pct(q: Double) = if (durs.isEmpty) 0.0 else durs(math.min(durs.length - 1, (q * durs.length).toInt))
    val skew = ts.groupBy(_.stage).values.filter(_.length >= 2).map { g =>
      val d = g.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.length / 2)
      if (med <= 0) 1.0 else d.last / med
    }.foldLeft(1.0)(math.max)
    val run = ts.map(_.runMs).sum.toDouble
    val execs = js.map(_.execId).filter(_ >= 0).distinct
    val writing = execs.filter(e => execFiles(e) > 0)
    val commitMs = writing.map { e =>
      val lastTask = ts.filter(t => js.exists(j => j.execId == e && stageJob.get(t.stage).contains(j.id)))
        .map(_.finish).foldLeft(0L)(math.max)
      math.max(0L, execEnd.getOrElse(e, lastTask) - lastTask).toDouble
    }.sum
    val mb = 1e6
    Map(
      "spark.sched.jobs" -> js.length.toDouble,
      "spark.sched.stages" -> stages.size.toDouble,
      "spark.sched.tasks" -> ts.length.toDouble,
      "spark.sched.task_ms_p50" -> pct(0.5),
      "spark.sched.task_ms_p90" -> pct(0.9),
      "spark.sched.task_ms_max" -> (if (durs.isEmpty) 0.0 else durs.last),
      "spark.sched.skew" -> skew,
      "spark.sched.cpu_share" -> ts.map(_.cpuNs).sum / 1e9 / (cores * wallS),
      "jvm.gc_share" -> (if (run <= 0) 0.0 else ts.map(_.gcMs).sum / run),
      "spark.scan.input_mb" -> ts.map(_.inputB).sum / mb,
      "spark.exchange.shuffle_write_mb" -> ts.map(_.shWriteB).sum / mb,
      "spark.exchange.shuffle_read_mb" -> ts.map(_.shReadB).sum / mb,
      "spark.exchange.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spark.exchange.spill_mb" -> ts.map(_.spillB).sum / mb,
      "spark.write.output_mb" -> ts.map(_.outB).sum / mb,
      "spark.write.files" -> writing.map(execFiles).sum.toDouble,
      "spark.write.commit_ms" -> commitMs,
      "spark.driver.collect_mb" -> ts.filter(_.result).map(_.resultB).sum / mb)
  }

  /** task CPU seconds of one pass */
  def cpuS(pass: String): Double = synchronized {
    val ids = jobs.filter(_.pass == pass).map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stage).exists(ids)).map(_.cpuNs).sum / 1e9
  }

  /** jobs (and their wall span) started under one entry-point call */
  def callJobs(pass: String, call: String): Seq[JobRec] = synchronized {
    jobs.filter(j => j.pass == pass && j.call != null && j.call.startsWith(call + "#")).toSeq
  }

  /** files the driver reported written by the executions of one call */
  def callFiles(pass: String, call: String): Double = synchronized {
    callJobs(pass, call).map(_.execId).filter(_ >= 0).distinct.map(execFiles).sum.toDouble
  }

  def passJobs(pass: String): Seq[JobRec] = synchronized { jobs.filter(_.pass == pass).toSeq }
}

object Tracer {
  val PassKey = "perfbench.pass"
  val CallKey = "perfbench.call"

  def writeSpans(path: java.io.File, spans: Seq[Span]): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
        s""""pass":${Json.str(s.pass)},"start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
