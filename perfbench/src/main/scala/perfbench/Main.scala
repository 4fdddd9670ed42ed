package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One unit of a workload's timed work (a round, a pass, a cycle) is made
  * of ops; every op runs through [[Ctx.op]], which times it, tags the
  * Spark jobs and server requests it causes, and counts failures. */
trait Workload {
  /** Everything before the first timed op: fixtures, builds, warm-up. */
  def setup(c: Ctx): Unit
  /** Runs unit `i` of the timed work. Units are whole (every query, the
    * whole crawl, a full op cycle), so every run times the same mix. */
  def unit(c: Ctx, i: Int): Unit
  /** Fewest units an untraced run times, however short --seconds is. */
  def minUnits: Int = 1
  /** Output checks, outside the timed loop. */
  def check(c: Ctx): Unit
  /** ops_per_s, op_p50_ms, op_p90_ms from the timed ops. */
  def endToEnd(c: Ctx, ops: Seq[OpRec]): Map[String, Double]
  /** Per-layer figures for one traced unit (counts are per unit). */
  def layers(c: Ctx, t: Traced): Map[String, Double]
  /** Lines for the human-readable report, under workload-specific names. */
  def report(c: Ctx, ops: Seq[OpRec]): Seq[(String, Double, String)] = Nil
}

final case class OpRec(id: Long, kind: String, start: Long, end: Long, ok: Boolean,
                       items: Long) {
  def ms: Double = (end - start) / 1e6
}

/** One traced unit's observations. */
final case class Traced(ops: Seq[OpRec], jobs: Seq[JobRec], stages: Seq[Span],
                        tasks: Seq[TaskRec], phases: Seq[(Long, String, Long)],
                        reqs: Seq[Req], codegenCompiles: Long, codegenMs: Double)

final class Ctx(val spark: SparkSession, val seed: Long, val dir: java.io.File,
                val inputs: java.io.File, val config: com.fasterxml.jackson.databind.JsonNode) {
  val clock = new Clock
  var server: Option[Server] = None
  var collector: Option[Collector] = None
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val props = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0L

  def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }

  /** Check an output outside the timed loop. */
  def expect(what: String, ok: Boolean): Unit = if (!ok) fail(what)

  /** Run one op: job group, op id on the server, timing, failure count. */
  def op[T](kind: String, items: Long = 1L)(body: => T): Option[T] = {
    nextOp += 1
    val id = nextOp
    spark.sparkContext.setJobGroup(s"pb-op-$id", kind, interruptOnCancel = false)
    server.foreach(_.currentOp = id)
    collector.foreach(_.currentOp = id)
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case e: Exception =>
        fail(s"$kind: ${e.toString.take(300)}")
        e.printStackTrace()
        None
    }
    val t1 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    ops += OpRec(id, kind, t0, t1, out.isDefined, items)
    out
  }

  /** Times a setup phase into props("setup_phases_s"). */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = (System.nanoTime() - t0) / 1e9
  }
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def fresh(name: String): java.io.File = {
    val d = new java.io.File(dir, name)
    Main.deleteRecursively(d)
    d.mkdirs()
    d
  }
}

object Main {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Highest heap occupancy right after a full collection. The run
    * forces one after setup and after every unit, outside the timed ops,
    * so the figure is the live set at those points rather than wherever
    * young collections happened to land. */
  final class HeapWatch {
    @volatile var peak = 0L
    private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def install(): Unit = beans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcAction.contains("major")) {
            var used = 0L
            info.getGcInfo.getMemoryUsageAfterGc.forEach((pool, u) =>
              if (!pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
                  !pool.contains("Compressed Class")) used += u.getUsed)
            if (used > peak) peak = used
            }
          }
        }, null, null)
      case _ =>
    }
  }

  /** Two full collections with a pause between, so state Spark's
    * ContextCleaner releases after the first (shuffles, broadcasts) is
    * gone by the second. */
  private def fullGc(): Unit = { System.gc(); Thread.sleep(200); System.gc() }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = new java.io.File(a("dir"))
    val out = new java.io.File(a("out"))
    val processStartEpochMs = a("t0").toDouble
    val mapper = new ObjectMapper()
    val config = mapper.readTree(new java.io.File(a("config")))
    val heap = new HeapWatch
    heap.install()
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(dir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new java.io.File(dir, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, seed, dir, new java.io.File(a("inputs")), config)
    c.props("cpus") = cpus
    val w: Workload = workloadName match {
      case "lake_sql" => new LakeSql
      case "crawl_to_shards" => new CrawlToShards
      case "federated_rw" => new FederatedRw
    }
    val result = mapper.createObjectNode()
    try {
      w.setup(c)
      System.err.println(s"perfbench: setup done ${java.time.Instant.now()}")
      val setupEnd = System.nanoTime()
      val setupS = (c.clock.epochMs(setupEnd) - processStartEpochMs) / 1000.0
      val warmOps = c.ops.size
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      if (!trace) {
        var i = 0
        fullGc()
        while (System.nanoTime() < deadline || i < w.minUnits) { w.unit(c, i); fullGc(); i += 1 }
        val timed = c.ops.drop(warmOps).toSeq
        metrics("setup_s") = setupS
        metrics ++= w.endToEnd(c, timed)
        metrics("peak_heap_mb") = heap.peak / 1048576.0
        c.props("timed_units") = i
        c.props("timed_ops") = timed.size
        val rep = result.putArray("report")
        w.report(c, timed).foreach { case (n, v, u) =>
          rep.addObject().put("name", n).put("value", v).put("unit", u) }
      } else {
        // Alternate untraced and traced units of identical work; the
        // per-layer figures come from the traced units only.
        val col = new Collector(c.clock)
        val codegen = new CodegenLog
        codegen.install()
        val untraced = mutable.ArrayBuffer.empty[Double]
        val tracedWall = mutable.ArrayBuffer.empty[Double]
        val traced = mutable.ArrayBuffer.empty[Traced]
        var i = 0
        while (System.nanoTime() < deadline || traced.isEmpty) {
          val before = c.ops.size
          c.server.foreach(_.drainLog())
          val isTraced = i % 2 == 1
          if (isTraced) {
            // events of the previous (untraced) unit must not land here
            org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
            col.clear()
            spark.sparkContext.addSparkListener(col)
            spark.listenerManager.register(col)
            c.collector = Some(col)
          }
          val (cg0, cgMs0) = codegen.total
          w.unit(c, i / 2)
          // op time only: a unit's outside-op checks differ when traced
          val wall = c.ops.drop(before).map(_.ms).sum
          val (cg1, cgMs1) = codegen.total
          if (isTraced) {
            org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
            spark.sparkContext.removeSparkListener(col)
            spark.listenerManager.unregister(col)
            c.collector = None
            val reqs = c.server.map(_.drainLog()).getOrElse(Nil)
            col.synchronized {
              // jobs started outside the op's thread (a streaming query's
              // micro-batches) carry no job group: attribute them by time
              val unitOps = c.ops.drop(before).toSeq
              val opOfJob = col.jobs.map(j => j.id -> (if (j.op != 0) j.op else
                unitOps.find(o => j.start >= o.start && j.start <= o.end).map(_.id).getOrElse(0L))).toMap
              traced += Traced(unitOps, col.jobs.map(j => j.copy(op = opOfJob(j.id))).toSeq,
                col.stages.toSeq, col.tasks.map(x => x.copy(op = opOfJob.getOrElse(x.job, x.op))).toSeq,
                col.phases.toSeq, reqs, cg1 - cg0, cgMs1 - cgMs0)
            }
            tracedWall += wall
          } else untraced += wall
          i += 1
        }
        val t = traced.last
        metrics ++= Layers.common(t)
        metrics ++= w.layers(c, t)
        metrics("trace.overhead_ratio") =
          quantile(tracedWall.toSeq, 0.5) / quantile(untraced.toSeq, 0.5)
        val opSpans = t.ops.map(o => Span(o.id, 0, "op", o.kind, o.start, o.end))
        val (self, wall, uncovered) = SelfTime.table(opSpans, t.jobs, t.stages, t.reqs)
        val st = result.putObject("self_time_ms")
        self.toSeq.sortBy(-_._2).foreach { case (k, v) => st.put(k, v) }
        result.put("op_wall_ms", wall)
        result.put("uncovered_ms", uncovered)
        result.put("traced_units", traced.size)
        result.put("untraced_units", untraced.size)
        Trace.writeSpans(new java.io.File(a("spans")), c, t)
      }
      System.err.println(s"perfbench: timed done ${java.time.Instant.now()}")
      w.check(c)
      System.err.println(s"perfbench: check done ${java.time.Instant.now()}")
      val m = result.putObject("metrics")
      metrics.foreach { case (k, v) => m.put(k, v) }
    } catch {
      case e: Throwable =>
        c.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    result.put("attempted", c.attempted)
    result.put("failed", c.failed)
    val f = result.putArray("failures")
    c.failures.foreach(f.add)
    c.props("setup_phases_s") = c.phases.map { case (k, v) => k -> math.round(v * 1000) / 1000.0 }.toMap
    val p = result.putObject("props")
    def toJava(v: Any): Any = v match {
      case m: scala.collection.Map[_, _] =>
        val j = new _root_.java.util.LinkedHashMap[String, Any]()
        m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
        j
      case s: scala.collection.Seq[_] => _root_.java.util.Arrays.asList(s.map(toJava).toSeq: _*)
      case other => other
    }
    c.props.foreach { case (k, v) =>
      p.set[com.fasterxml.jackson.databind.JsonNode](k, mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](toJava(v))) }
    java.nio.file.Files.write(out.toPath, mapper.writeValueAsBytes(result))
    c.server.foreach(_.stop())
    spark.stop()
    System.err.println(s"perfbench: stopped ${java.time.Instant.now()}")
    sys.exit(0)
  }
}
