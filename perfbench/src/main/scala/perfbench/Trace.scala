package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed interval. Times are System.nanoTime() values. `parent` is the
  * id of the enclosing span (0 for ops). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Per-task figures kept by the listener. */
final case class TaskRec(op: Long, job: Int, stage: Int, runMs: Long, cpuNs: Long,
                         gcMs: Long, delayMs: Long, durMs: Long, recordsIn: Long,
                         shuffleRecordsIn: Long, shuffleWrite: Long, shuffleRead: Long,
                         fetchWaitMs: Long, spill: Long, inputBytes: Long,
                         outputBytes: Long)

final case class JobRec(op: Long, id: Int, callSite: String, start: Long, end: Long)

/** Spark-side observation for the traced run: job, stage and task
  * events (attributed to the op through the job group the benchmark
  * sets) and planning phases (attributed through the op in flight when
  * the query finishes). Registered only while tracing.
  */
final class Collector(clock: Clock) extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[Span]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val phases = mutable.ArrayBuffer.empty[(Long, String, Long)] // (op, phase, ms)
  private val jobStarts = mutable.Map.empty[Int, (Long, Long, String)]
  private val stageJob = mutable.Map.empty[Int, (Long, Int)]
  @volatile var currentOp: Long = 0L

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-op-")).map(_.stripPrefix("pb-op-").toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("")
    jobStarts(e.jobId) = (op, clock.fromEpochMs(e.time), site)
    e.stageIds.foreach(s => stageJob(s) = (op, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (op, start, site) =>
      jobs += JobRec(op, e.jobId, site, start, clock.fromEpochMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) {
      val job = stageJob.get(i.stageId).map(_._2).getOrElse(-1)
      stages += Span(i.stageId.toLong, job.toLong, "stage", i.name,
        clock.fromEpochMs(s), clock.fromEpochMs(c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val (op, job) = stageJob.getOrElse(e.stageId, (0L, -1))
      val info = e.taskInfo
      val dur = info.duration
      val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      tasks += TaskRec(op, job, e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, delay, dur, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val op = currentOp
      qe.tracker.phases.foreach { case (name, p) => phases += ((op, name, p.durationMs)) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); phases.clear()
    jobStarts.clear(); stageJob.clear()
  }
}

/** Running totals of codegen compiles and their time, summed from
  * CodeGenerator's "Code generated in X ms" log lines. (Spark's
  * CodegenMetrics keeps compile time in a histogram over a decaying
  * sample, which gives no running total.) */
final class CodegenLog extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-codegen", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Line = "Code generated in ([0-9.]+) ms".r.unanchored
  private val compiles = new java.util.concurrent.atomic.AtomicLong
  private val micros = new java.util.concurrent.atomic.AtomicLong

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    e.getMessage.getFormattedMessage match {
      case Line(ms) =>
        compiles.incrementAndGet()
        micros.addAndGet(math.round(ms.toDouble * 1000))
      case _ =>
    }

  /** (compiles, compile ms) so far. */
  def total: (Long, Double) = (compiles.get, micros.get / 1000.0)

  /** Routes CodeGenerator's INFO lines here only (not to the console). */
  def install(): Unit = {
    import org.apache.logging.log4j.core.{LoggerContext, config}
    start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new config.LoggerConfig(Logger, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(this, org.apache.logging.log4j.Level.INFO, null)
    ctx.getConfiguration.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}

/** Maps listener epoch-millisecond times onto System.nanoTime(). */
final class Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - offset
  def epochMs(nano: Long): Double = (nano + offset) / 1e6
}

/** Turns one traced block's spans into self times and per-layer figures. */
object SelfTime {
  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Self time per span kind over ops, jobs, stages and HTTP requests.
    * Tree: op > job (by job group) > stage (by job) > request (by time,
    * innermost stage of the same op); requests outside every stage hang
    * off the op. Returns (self ms by kind, op wall ms, uncovered ms). */
  def table(ops: Seq[Span], jobs: Seq[JobRec], stages: Seq[Span],
            reqs: Seq[Req]): (Map[String, Double], Double, Double) = {
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wall = 0.0
    var uncovered = 0.0
    val stagesByJob = stages.groupBy(_.parent.toInt)
    ops.foreach { op =>
      val opJobs = jobs.filter(_.op == op.id)
      val opStages = opJobs.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
      val opReqs = reqs.filter(_.op == op.id)
      val inStage = opReqs.groupBy(r =>
        opStages.find(s => r.start >= s.start && r.start < s.end).map(_.id).getOrElse(-1L))
      val direct = inStage.getOrElse(-1L, Nil)
      opReqs.foreach(r => self(s"http.${r.kind}") += (r.end - r.start) / 1e6)
      opStages.foreach { s =>
        val kids = inStage.getOrElse(s.id, Nil).map(r => (r.start, r.end))
        self("stage") += (s.dur - union(kids, s.start, s.end)) / 1e6
      }
      opJobs.foreach { j =>
        val kids = stagesByJob.getOrElse(j.id, Nil).map(s => (s.start, s.end))
        self("job") += (j.end - j.start - union(kids, j.start, j.end)) / 1e6
      }
      val kids = opJobs.map(j => (j.start, j.end)) ++ direct.map(r => (r.start, r.end))
      val opSelf = (op.dur - union(kids, op.start, op.end)) / 1e6
      self("op") += opSelf
      wall += op.dur / 1e6
      uncovered += opSelf
    }
    (self.toMap, wall, uncovered)
  }
}

object Trace {
  /** Spans of the last traced unit, one JSON object per line. */
  def writeSpans(f: java.io.File, c: Ctx, t: Traced): Unit = {
    val m = new ObjectMapper()
    val lines = mutable.ArrayBuffer.empty[String]
    def span(kind: String, id: String, parent: String, name: String, s: Long, e: Long): Unit = {
      val n: ObjectNode = m.createObjectNode()
      n.put("kind", kind).put("id", id).put("parent", parent).put("name", name)
        .put("start_ms", c.clock.epochMs(s)).put("end_ms", c.clock.epochMs(e))
      lines += m.writeValueAsString(n)
    }
    t.ops.foreach(o => span("op", s"op-${o.id}", "", o.kind, o.start, o.end))
    t.jobs.foreach(j => span("job", s"job-${j.id}", s"op-${j.op}", j.callSite, j.start, j.end))
    t.stages.foreach(s => span("stage", s"stage-${s.id}", s"job-${s.parent}", s.name, s.start, s.end))
    t.reqs.zipWithIndex.foreach { case (r, i) =>
      span(s"http.${r.kind}", s"req-$i", s"op-${r.op}", r.path, r.start, r.end) }
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
  }
}

/** Per-layer figures every workload reports, from one traced unit. */
object Layers {
  def common(t: Traced): Map[String, Double] = {
    val ts = t.tasks
    val nOps = math.max(1, t.ops.size).toDouble
    def phase(p: String) = t.phases.filter(_._2 == p).map(_._3).sum / nOps
    val run = ts.map(_.runMs).sum.toDouble
    val cpu = ts.map(_.cpuNs).sum / 1e6
    val reqs = t.reqs
    val m = mutable.LinkedHashMap[String, Double](
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimize_ms" -> phase("optimization"),
      "plan.physical_ms" -> phase("planning"),
      "codegen.compile_ms" -> t.codegenMs,
      "codegen.compiles" -> t.codegenCompiles.toDouble,
      "sched.jobs" -> t.jobs.size.toDouble,
      "sched.stages" -> t.stages.size.toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "sched.empty_task_ratio" ->
        (if (ts.isEmpty) 0.0
         else ts.count(x => x.recordsIn == 0 && x.shuffleRecordsIn == 0).toDouble / ts.size),
      "sched.delay_ms" -> ts.map(_.delayMs).sum.toDouble,
      "task.run_ms" -> run,
      "task.cpu_ms" -> cpu,
      "task.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "task.cpu_ratio" -> (if (run > 0) cpu / run else 0.0),
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spill.bytes" -> ts.map(_.spill).sum.toDouble,
      "input.bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "output.bytes" -> ts.map(_.outputBytes).sum.toDouble)
    m ++= http(reqs)
    m.toMap
  }

  val kinds = Seq("cdx", "warc", "d1", "r2", "iceberg")

  /** Remote I/O as the server saw it. Busy = time with at least one
    * request in flight; wait = sum of request durations. */
  def http(reqs: Seq[Req]): Map[String, Double] = {
    val events = reqs.flatMap(r => Seq((r.start, 1), (r.end, -1))).sortBy(e => (e._1, e._2))
    var n = 0
    var peak = 0
    var busy = 0L
    var since = 0L
    events.foreach { case (t, d) =>
      if (n == 0 && d > 0) since = t
      n += d
      peak = math.max(peak, n)
      if (n == 0) busy += t - since
    }
    val wait = reqs.map(r => r.end - r.start).sum / 1e6
    val busyMs = busy / 1e6
    val m = mutable.LinkedHashMap[String, Double](
      "http.requests" -> reqs.size.toDouble,
      "http.bytes" -> reqs.map(_.respBytes).sum.toDouble,
      "http.retries" -> reqs.count(_.status == 503).toDouble,
      "http.inflight_peak" -> peak.toDouble,
      "http.inflight_mean" -> (if (busyMs > 0) wait / busyMs else 0.0),
      "http.busy_ms" -> busyMs,
      "http.wait_ms" -> wait)
    kinds.foreach { k =>
      val rs = reqs.filter(_.kind == k)
      m(s"http.$k.requests") = rs.size.toDouble
      m(s"http.$k.bytes") = rs.map(_.respBytes).sum.toDouble
      m(s"http.$k.wait_ms") = rs.map(r => r.end - r.start).sum / 1e6
    }
    m.toMap
  }
}
