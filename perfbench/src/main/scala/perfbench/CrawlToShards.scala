package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** crawl_to_shards: the product path end to end. A pass scans the
  * generated crawl through `format("commoncrawl")` (page-sharded, WARC
  * bodies fetched from the benchmark's server), lands parquet carrying
  * fp/lang/source, then runs `DocsStream.runIngestPipelineToShardsAsStream`
  * over the landed files in several micro-batches against an LSH index
  * and a unit store prebuilt from a lake slice, and reads the shard
  * summary back. Each pass starts from fresh copies of the index and
  * store, so every pass does the same work. */
final class CrawlToShards extends Workload {
  private val Partitions = 4
  private val FilesPerBatch = 2
  private var crawl: java.io.File = _
  private var props: com.fasterxml.jackson.databind.JsonNode = _
  private var docs: DataFrame = _
  private var tmpl: java.io.File = _
  private var lakeFps = Set.empty[Long]
  private var lakeUnitKeys = 0L
  private var lakeDocs = 0L
  private var firstSummary: Option[Seq[String]] = None
  /** Per pass: (pass start, records, landing errors, batch ends). */
  private val passes = mutable.ArrayBuffer.empty[PassRec]
  /** (time, operator) samples of the stream thread in the last traced pass. */
  private var lastSamples: Seq[(Long, String)] = Nil
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  final case class PassRec(traced: Boolean, scanStart: Long, scanEnd: Long, end: Long,
                           records: Long, errors: Long, batchEnds: Seq[(Long, Long)],
                           batchMs: Seq[Double], batchPlanMs: Seq[Double],
                           counts: Map[String, Double])

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    crawl = new java.io.File(c.inputs, "crawl")
    props = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(crawl, "props.json"))
    val lake = new java.io.File(c.inputs, "lake").getAbsolutePath
    graft.Graft.tuneForTinyInput(spark,
      new java.io.File(lake).listFiles().map(_.length).sum + props.get("archive_bytes").asLong())
    val server = c.phase("server") {
      new Server(c.seed, Profile.fromJson(c.config.get("server")),
        new ServerData(Some(crawl))).start()
    }
    c.server = Some(server)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    docs = spark.read.parquet(s"$lake/documents.parquet")
    val nLake = props.get("lake_slice_docs").asLong()
    tmpl = c.fresh("template")
    c.phase("index_store") {
      val slice = docs.filter(col("doc_id") < nLake).select("doc_id", "text")
      val idx = new java.io.File(tmpl, "index").getAbsolutePath
      graft.operators.Dedup.lshBuild(slice, "text", "doc_id", idx)
      graft.operators.Dedup.lshWriteFingerprints(slice, "text", idx)
      graft.operators.ParagraphDedup.unitStoreBuild(slice, "doc_id", "text",
        graft.operators.ParagraphDedup.unitsByWordWindow(_, 16),
        new java.io.File(tmpl, "store").getAbsolutePath)
      lakeFps = slice.select(xxhash64(col("text"))).collect().map(_.getLong(0)).toSet
      lakeDocs = graft.operators.Dedup.lshIndexDocCount(spark, idx)
      lakeUnitKeys = graft.operators.UnitStore.keyCount(spark,
        new java.io.File(tmpl, "store").getAbsolutePath)
    }
    c.phase("warmup")(pass(c, -1, traced = false))
    firstSummary = None
  }

  private def size(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)

  private def copy(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copy(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** One pass; `i` < 0 is the warm-up pass (a one-page crawl). Outputs
    * are checked here, after the timed ops. */
  private def pass(c: Ctx, i: Int, traced: Boolean): Unit = {
    val spark = c.spark
    val dir = c.fresh(s"pass$i")
    val idx = new java.io.File(dir, "index")
    val store = new java.io.File(dir, "store")
    copy(new java.io.File(tmpl, "index"), idx)
    copy(new java.io.File(tmpl, "store"), store)
    c.server.foreach(_.resetAttempts())
    progress.clear()
    val landing = new java.io.File(dir, "landing").getAbsolutePath
    val warm = i < 0
    val crawlId = if (warm) ServerData.WarmupCrawl else props.get("crawl_id").asText()
    val records =
      if (warm) ServerData.WarmupPages * props.get("records_per_page").asLong()
      else props.get("records").asLong()
    val obs = Observation(s"landing$i")
    val t0 = System.nanoTime()
    c.op("scan", records) {
      val raw = spark.read.format("commoncrawl")
        .option("index_endpoint", c.server.get.base + "/cc")
        .option("data_endpoint", c.server.get.base + "/data")
        .option("crawl", crawlId)
        .option("url_like", "%.example.org/%")
        .option("max_results", records.toString)
        .option("partitions", Partitions.toString)
        .load()
      raw.observe(obs, count(lit(1)).as("records"),
          sum(when(col("response.error").isNotNull, 1).otherwise(0)).as("errors"),
          max(col("response.error")).as("an_error"))
        .select(
          regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          regexp_replace(col("response.body").cast("string"), "\\s+$", "").as("text"),
          col("response.headers").getItem("Content-Language").as("lang"),
          regexp_extract(col("url"), "^https://([^.]+)\\.", 1).as("source"))
        .withColumn("fp", xxhash64(col("text")))
        .write.parquet(landing)
    }
    val scanEnd = System.nanoTime()
    // micro-batches take the landed files in partition order
    new java.io.File(landing).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex
      .foreach { case (f, k) => f.setLastModified(1700000000000L + k * 1000L) }
    val sampler = if (traced) Some(new StackSampler("stream execution thread for perfbench_ingest")) else None
    sampler.foreach(_.start())
    val summary = c.op("ingest", records) {
      graft.streaming.DocsStream.runIngestPipelineToShardsAsStream(
        spark, landing, idx.getAbsolutePath, store.getAbsolutePath,
        new java.io.File(dir, "out").getAbsolutePath,
        new java.io.File(dir, "shards").getAbsolutePath,
        s"perfbench_ingest_p${i + 1}",
        graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), " ",
        benchmark = docs.filter(col("doc_id") % 1000 === 0),
        minWords = 20, minUniqRatio = 0.25, sampleNumerator = 128,
        weights = Map("src0" -> 2.0, "src1" -> 0.5), packBudget = 2000L,
        maxFilesPerTrigger = Some(FilesPerBatch),
        checkpointLocation = Some(new java.io.File(dir, "ckpt").getAbsolutePath))
        .orderBy(col("lang"), col("bin")).collect()
        .map(r => s"${r.getString(0)}/${r.get(1)}:${r.getLong(2)}/${r.getLong(3)}").toSeq
    }
    val end = System.nanoTime()
    sampler.foreach(_.finish())
    lastSamples = sampler.map(_.samples.toSeq).getOrElse(Nil)

    // ---- outside the timed interval: observations and output checks ---
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    val prog = progress.toArray(Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress])
      .filter(p => p.name == s"perfbench_ingest_p${i + 1}" && p.numInputRows > 0)
      .sortBy(_.batchId).toSeq
    val perFile = spark.read.parquet(landing).groupBy(input_file_name()).count().collect()
      .map(r => (new java.io.File(new java.net.URI(r.getString(0))).getName, r.getLong(1)))
      .sortBy(_._1).map(_._2).toSeq
    val batchEnds = prog.zip(perFile.grouped(FilesPerBatch).map(_.sum).toSeq).map { case (p, n) =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      (c.clock.fromEpochMs(startMs + p.durationMs.get("triggerExecution").longValue()), n)
    }
    val m = Option(obs.get).getOrElse(Map.empty[String, Any])
    def num(k: String) = m.get(k).map(_.toString.toLong).getOrElse(-1L)
    val landed = num("records")
    val errors = num("errors")
    c.expect(s"pass $i: landed $landed of $records CDX records", landed == records)
    c.expect(s"pass $i: $errors records with response.error, e.g. ${m.get("an_error")}",
      errors == 0)
    val counts = ingestCounts(c, dir, landing, traced)
    val planted = props.get("planted_exact").asLong() + props.get("planted_lake").asLong()
    if (!warm) {
      c.expect(s"pass $i: exact dups dropped ${counts("ingest.exact_dropped")} != planted $planted",
        counts("ingest.exact_dropped") == planted)
      c.expect(s"pass $i: near dups dropped ${counts("ingest.near_dropped")} != planted " +
        props.get("planted_near").asLong(),
        counts("ingest.near_dropped") == props.get("planted_near").asLong())
    }
    summary.filterNot(_ => warm).foreach { s =>
      val shardDocs = s.map(_.split(":")(1).split("/")(0).toLong).sum
      c.expect(s"pass $i: shard summary holds $shardDocs docs, shard files " +
        counts("ingest.shard_docs"), shardDocs == counts("ingest.shard_docs"))
      firstSummary match {
        case None => firstSummary = Some(s)
        case Some(f) => c.expect(s"pass $i: shard summary differs from the first pass", f == s)
      }
    }
    c.expect(s"pass $i: ingest ran ${prog.size} micro-batches", warm || prog.size >= 2)
    passes += PassRec(traced, t0, scanEnd, end, records, errors, batchEnds,
      prog.map(_.durationMs.get("triggerExecution").doubleValue()),
      prog.map(p => Seq("queryPlanning", "getBatch", "latestOffset")
        .flatMap(k => Option(p.durationMs.get(k))).map(_.doubleValue()).sum),
      counts)
  }

  /** Counts read off what the ingest left behind: the docs that reached
    * the cleaned output (`out/`), the index's visible docs and the shard
    * files. A landed doc is an exact copy when another landed doc or a
    * lake-slice doc has the same fingerprint; exact_dropped counts the
    * copies that did not reach `out/` (one doc of each group outside the
    * lake is the original and stays), near_dropped the other docs that
    * did not. */
  private def ingestCounts(c: Ctx, dir: java.io.File, landing: String,
                           traced: Boolean): Map[String, Double] = {
    val spark = c.spark
    val land = spark.read.parquet(landing).select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docsIn = land.length.toLong
    val kept = spark.read.parquet(new java.io.File(dir, "out").getAbsolutePath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (copies, singles) = land.groupBy(_._2).partition { case (fp, g) =>
      g.length > 1 || lakeFps.contains(fp) }
    def dropped(gs: Iterable[Array[(Long, Long)]]) =
      gs.map(_.count(d => !kept.contains(d._1))).sum.toDouble
    val accepted = graft.operators.Dedup.lshIndexDocCount(spark,
      new java.io.File(dir, "index").getAbsolutePath) - lakeDocs
    c.expect(s"${dir.getName}: ${kept.size} docs in out/, index grew by $accepted",
      kept.size == accepted)
    val shards = spark.read.parquet(new java.io.File(dir, "shards").getAbsolutePath)
    val shardDocs = shards.count()
    val m = mutable.LinkedHashMap[String, Double](
      "ingest.docs_in" -> docsIn.toDouble,
      "ingest.exact_dropped" -> dropped(copies.values),
      "ingest.near_dropped" -> dropped(singles.values),
      "ingest.shard_docs" -> shardDocs.toDouble,
      "ingest.yield" -> shardDocs.toDouble / math.max(1L, docsIn))
    if (traced) {
      val store = new java.io.File(dir, "store").getAbsolutePath
      val keys = graft.operators.UnitStore.keyCount(spark, store) - lakeUnitKeys
      val out = spark.read.parquet(new java.io.File(dir, "out").getAbsolutePath)
      val units = out.select("doc_id")
        .join(spark.read.parquet(landing).select("doc_id", "text"), "doc_id")
        .select(explode(graft.operators.ParagraphDedup.unitsByWordWindow(col("text"), 16)))
        .count()
      m("ingest.units_dropped") = (units - keys).toDouble
      val written = Seq("index", "store").map(n =>
        size(new java.io.File(dir, n)) - size(new java.io.File(tmpl, n))).sum +
        size(new java.io.File(dir, "out")) + size(new java.io.File(dir, "shards"))
      m("storage.write_amp") = written.toDouble / props.get("body_bytes").asDouble()
    }
    m.toMap
  }

  def unit(c: Ctx, i: Int): Unit =
    pass(c, i, traced = c.collector.isDefined)

  def check(c: Ctx): Unit = ()

  private def timedPasses: Seq[PassRec] = passes.toSeq.drop(1)

  /** A pass is one ~20 s measurement, and a slow spell of the shared host
    * during it moved a single pass's figures by up to 60% run to run; so
    * a run times two passes and each metric is the better of the two. */
  override def minUnits: Int = 2

  def endToEnd(c: Ctx, ops: Seq[OpRec]): Map[String, Double] = {
    val ps = timedPasses
    def lat(p: PassRec) = p.batchEnds.flatMap { case (e, n) =>
      Seq.fill(n.toInt)((e - p.scanStart) / 1e6) }
    c.props("doc_latency_samples") = ps.map(lat(_).size)
    c.props("pass_s") = ps.map(p => (p.end - p.scanStart) / 1e9)
    Map("ops_per_s" -> ps.map(p => p.records / ((p.end - p.scanStart) / 1e9)).max,
      "op_p50_ms" -> ps.map(p => rank(lat(p), 0.5)).min,
      "op_p90_ms" -> ps.map(p => rank(lat(p), 0.9)).min)
  }

  /** Nearest-rank quantile: the time by which that share of docs landed. */
  private def rank(xs: Seq[Double], q: Double): Double =
    xs.sorted.apply(math.max(0, math.ceil(q * xs.size).toInt - 1))

  override def report(c: Ctx, ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val e = endToEnd(c, ops)
    Seq(("docs_per_s", e("ops_per_s"), "docs/s"), ("doc_p50_ms", e("op_p50_ms"), "ms"),
      ("doc_p90_ms", e("op_p90_ms"), "ms"))
  }

  def layers(c: Ctx, t: Traced): Map[String, Double] = {
    val p = passes.filter(_.traced).last
    val scanOp = t.ops.find(_.kind == "scan")
    val ingestOp = t.ops.find(_.kind == "ingest")
    val scanJobs = t.jobs.filter(j => scanOp.exists(_.id == j.op))
    val scanTasks = t.tasks.filter(x => scanJobs.exists(_.id == x.job))
    val resultStage = scanTasks.map(_.stage).distinct.sorted.lastOption
    val durs = scanTasks.filter(x => resultStage.contains(x.stage)).map(_.durMs.toDouble)
    val cdx = t.reqs.filter(r => r.kind == "cdx" && !r.path.contains("showNumPages"))
    val warc = t.reqs.filter(_.kind == "warc")
    val bodies = p.records - p.errors
    val ingestJobs = t.jobs.filter(j => ingestOp.exists(_.id == j.op))
    // micro-batch jobs all carry the stream's start call site, so each
    // job is attributed to the operator on the stream thread's stack when
    // the job was submitted (sampled every few milliseconds)
    def layer(j: JobRec): String =
      lastSamples.takeWhile(_._1 <= j.start + 2000000L).lastOption
        .filter(x => j.start - x._1 < 100000000L).map(_._2).getOrElse("other")
    val taskMs = ingestJobs.groupBy(layer).map { case (k, js) =>
      val ids = js.map(_.id).toSet
      k -> t.tasks.filter(x => ids.contains(x.job)).map(_.runMs).sum.toDouble }
    val m = mutable.LinkedHashMap[String, Double](
      "scan.wall_ms" -> (p.scanEnd - p.scanStart) / 1e6,
      "cdx.pages" -> cdx.size.toDouble,
      "cdx.records" -> p.records.toDouble,
      "warc.fetches" -> warc.size.toDouble,
      "warc.fetch_ratio" -> warc.size.toDouble / math.max(1L, bodies),
      "scan.partition_skew" -> (if (durs.isEmpty) 0.0 else durs.max / (durs.sum / durs.size)),
      "warc.parse_us" -> parseMicroloop(),
      "ingest.wall_ms" -> (p.end - p.scanEnd) / 1e6,
      "ingest.batches" -> p.batchMs.size.toDouble,
      "ingest.batch_ms" -> Main.quantile(p.batchMs, 0.5),
      "ingest.batch_plan_ms" -> Main.quantile(p.batchPlanMs, 0.5))
    Seq("Dedup", "ParagraphDedup", "UnitStore", "Curate", "ShardWriter").foreach(k =>
      m(s"ingest.task_ms.$k") = taskMs.getOrElse(k, 0.0))
    m ++= p.counts
    m.toMap
  }

  /** Microseconds per record to gunzip and parse the generated WARC
    * members through the public Warc functions. */
  private def parseMicroloop(): Double = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val archives = new java.io.File(crawl, "warc").listFiles().map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    val members = scala.io.Source.fromFile(new java.io.File(crawl, "cdx.ndjson")).getLines()
      .map(mapper.readTree).map { n =>
        val a = archives(n.get("filename").asText().split("/").last)
        val off = n.get("offset").asText().toInt
        java.util.Arrays.copyOfRange(a, off, off + n.get("length").asText().toInt)
      }.toArray
    def once(): Long = members.map(m =>
      graft.core.Warc.decompressGzip(m).map(graft.core.Warc.parseWarcResponse(_).body.length)
        .getOrElse(0).toLong).sum
    (1 to 3).foreach(_ => once())
    val reps = 5
    val t0 = System.nanoTime()
    (1 to reps).foreach(_ => once())
    (System.nanoTime() - t0) / 1e3 / (reps * members.length)
  }
}

/** Samples one thread's stack every few milliseconds, recording the
  * outermost graft.operators class on it. */
final class StackSampler(threadPrefix: String) extends Thread("perfbench-sampler") {
  setDaemon(true)
  val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var running = true

  def finish(): Unit = { running = false; join() }

  override def run(): Unit = {
    var target: Option[Thread] = None
    while (running) {
      if (target.forall(!_.isAlive))
        target = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
          .find(_.getName.startsWith(threadPrefix))
      target.foreach { t =>
        // outermost operator: the call the pipeline made (Curate's own
        // use of Dedup counts as Curate)
        val op = t.getStackTrace.reverseIterator.map(_.getClassName)
          .find(_.startsWith("graft.operators."))
          .map(_.stripPrefix("graft.operators.").takeWhile(c => c != '$' && c != '.'))
        op.foreach(o => samples += ((System.nanoTime(), o)))
      }
      Thread.sleep(if (target.isEmpty) 20 else 3)
    }
  }
}
