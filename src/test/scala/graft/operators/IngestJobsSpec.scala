package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnShim, SparkSession}
import org.apache.spark.sql.functions._

/** What one ingest micro-batch costs in Spark jobs: batch snapshots that
  * the batch's own index appends cannot invalidate, near-dup plans built
  * without running their input, index meta and dirs read on the driver,
  * and every file-fed ingest loop's job count per micro-batch pinned
  * exactly, so a cache-invalidation regression fails here rather than
  * only slowing the benchmark.
  */
class IngestJobsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.spark
  import spark.implicits._

  /** Jobs (with their local properties), stages and shuffle-read bytes
    * of the work `body` runs; the listener bus is drained before reading.
    */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.add(j.properties): Unit
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        shuffleRead.addAndGet(t.taskMetrics.shuffleReadMetrics.totalBytesRead): Unit
    def descriptions: Seq[String] = jobs.asScala.toSeq.map(p =>
      Option(p).flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse(""))
  }

  private def logging[T](body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    ListenerBusShim.drain(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val out = body
      ListenerBusShim.drain(sc)
      (out, log)
    } finally sc.removeSparkListener(log)
  }

  private def tmpDir(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString
  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")
  private def lake = Seq(
    (0L, words("lake", 25)),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")

  test("an accepted-batch snapshot survives its own index append: one action after lshAppend runs one job, no broadcast, no shuffle or index re-read") {
    val idx = tmpDir("snap_idx")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshWriteFingerprints(lake, "text", idx)
    val batch = Seq(
      (10L, words("novel", 24)),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
      (12L, words("lake", 25)),
      (13L, words("other", 30)))
      .toDF("doc_id", "text").withColumn("fp", xxhash64(col("text")))
    val (accepted, release) = GraftColumnShim.snapshot(
      Dedup.dedupAgainstIndexFingerprinted(batch, idx, "text", "doc_id", "fp"))
    val snapRdd = accepted.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.get
    try {
      // the append writes bands, hashes and fps — the dirs the accepted
      // plan reads; a persist()ed frame would be dropped by those writes
      Dedup.lshAppend(accepted, "text", "doc_id", idx, appendId = Some("b0"))
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == snapRdd.id)
      assert(info.exists(i => i.numPartitions > 0 && i.numCachedPartitions == i.numPartitions),
        s"snapshot blocks not all cached after the append: $info")
      val (ids, log) = logging(accepted.select("doc_id").collect().map(_.getLong(0)).toSet)
      assert(ids == Set(10L, 13L), ids.toString)
      assert(log.jobs.size == 1, log.descriptions.toString)
      assert(!log.descriptions.exists(_.contains("broadcast")), log.descriptions.toString)
      assert(log.stages.get == 1, s"${log.stages.get} stages")
      assert(log.shuffleRead.get == 0L, s"${log.shuffleRead.get} shuffle bytes read")
      assert(Dedup.lshIndexCommittedDocs(spark, idx) == 4L) // observed tally: 2 + 2
    } finally release()
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == snapRdd.id),
      "release() left snapshot blocks cached")
  }

  test("building the near-dup plans over an input with a shuffle and a broadcast join runs no Spark job") {
    val batch = Seq(
      (10L, words("novel", 24), "src0"),
      (11L, words("novel", 24) + " extra", "src1"),
      (12L, words("other", 30), "src1"))
      .toDF("doc_id", "text", "source")
    val weights = Seq(("src0", 2.0), ("src1", 1.0)).toDF("source", "weight")
    val input = batch.repartition(col("source")).join(broadcast(weights), "source")
    val (_, log) = logging {
      Dedup.minhashLshPairs(input, "text", "doc_id")
      Dedup.dedupAgainst(input, lake, "text", "doc_id")
      Dedup.simhashPairs(input, "text", "doc_id")
    }
    assert(log.jobs.isEmpty, log.descriptions.toString)
  }

  test("readMeta/readDir equal spark.read.parquet head()/schema on a fresh, appended and compacted index and unit store — and run no Spark job") {
    def same(dir: String, subs: Seq[String]): Unit = {
      val viaSpark = spark.read.parquet(s"$dir/meta").head()
      val (mine, log) = logging((IndexLifecycle.readMeta(spark, new org.apache.hadoop.fs.Path(dir)),
        subs.map(s => IndexLifecycle.readDir(spark, s"$dir/$s").schema)))
      assert(log.jobs.isEmpty, log.descriptions.toString)
      assert(mine._1 == viaSpark, s"${mine._1} vs $viaSpark")
      assert(mine._1.schema == viaSpark.schema)
      subs.zip(mine._2).foreach { case (s, schema) =>
        val d = s"$dir/$s"
        assert(schema == spark.read.parquet(d).schema, d)
        assert(IndexLifecycle.readDir(spark, d).collect().toSet ==
          spark.read.parquet(d).collect().toSet, d)
      }
    }
    val idx = tmpDir("meta_idx")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshWriteFingerprints(lake, "text", idx)
    val lshDirs = Seq("bands", "hashes", "fps")
    same(idx, lshDirs)
    Dedup.lshAppend(Seq((20L, words("fresh", 22))).toDF("doc_id", "text"),
      "text", "doc_id", idx, appendId = Some("a1"))
    same(idx, lshDirs)
    Dedup.lshCompact(spark, idx)
    same(idx, lshDirs)

    val store = tmpDir("meta_store")
    UnitStore.build(Seq(1L, 2L, 3L).toDF("k"), "k", store, buckets = 2)
    same(store, Seq("keys"))
    UnitStore.append(Seq(4L, 5L, 5L).toDF("k"), "k", store, appendId = Some("a1"))
    same(store, Seq("keys"))
    assert(UnitStore.committedKeys(spark, store) == 5L) // observed tally: 3 + 2
    UnitStore.compact(spark, store)
    same(store, Seq("keys"))
  }

  test("an empty append completes and leaves the observed tally unchanged") {
    val idx = tmpDir("empty_idx")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshWriteFingerprints(lake, "text", idx)
    Dedup.lshAppend(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", idx, appendId = Some("e0"))
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 2L)
    val store = tmpDir("empty_store")
    UnitStore.build(Seq(1L, 2L).toDF("k"), "k", store)
    UnitStore.append(Seq.empty[Long].toDF("k"), "k", store, appendId = Some("e0"))
    assert(UnitStore.committedKeys(spark, store) == 2L)
  }

  test("the store setup and compact paths run a pinned number of Spark jobs") {
    val lakeDf = Seq((0L, words("lake", 25)),
      (1L, words("second", 22) + "\nshared line")).toDF("doc_id", "text")
    val idx = tmpDir("setup_idx")
    // the crawl_to_shards setup: LSH index, fingerprint sidecar, unit store
    val (_, setup) = logging {
      Dedup.lshBuild(lakeDf, "text", "doc_id", idx)
      Dedup.lshWriteFingerprints(lakeDf, "text", idx)
      ParagraphDedup.unitStoreBuild(lakeDf, "doc_id", "text",
        ParagraphDedup.unitsBySeparator(_, "\\n"), tmpDir("setup_store"))
    }
    Dedup.lshAppend(Seq((20L, words("fresh", 22))).toDF("doc_id", "text"),
      "text", "doc_id", idx, appendId = Some("a1"))
    val (_, lshCompact) = logging(Dedup.lshCompact(spark, idx))
    val store = tmpDir("setup_bstore")
    UnitStore.build(Seq(1L, 2L, 3L).toDF("k"), "k", store, buckets = 2)
    UnitStore.append(Seq(4L, 5L).toDF("k"), "k", store, appendId = Some("a1"))
    val (_, unitCompact) = logging(UnitStore.compact(spark, store))
    val ivf = tmpDir("setup_ivf")
    val emb = (0 until 20).map(i => (i.toLong,
        Array.tabulate(8)(j => math.sin(i * 8.0 + j))))
      .toDF("vec_id", "embedding")
    SimilaritySearch.ivfBuild(emb.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", nlist = 4, ivf)
    SimilaritySearch.ivfAppend(emb.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", ivf, appendId = Some("a1"))
    val (_, ivfCompact) = logging(SimilaritySearch.ivfCompact(spark, ivf))
    val counts = Map("setup" -> setup.jobs.size, "lshCompact" -> lshCompact.jobs.size,
      "UnitStore.compact" -> unitCompact.jobs.size, "ivfCompact" -> ivfCompact.jobs.size)
    // measured on this fixture; an extra read, count or rewrite of an
    // index dir raises it
    assert(counts == Map("setup" -> 7, "lshCompact" -> 3,
      "UnitStore.compact" -> 3, "ivfCompact" -> 2), counts.toString)
  }

  /** The file-fed ingest fixture: two stamped parquet files (one per
    * micro-batch at maxFilesPerTrigger 1) and builders for a fresh LSH
    * index and unit store over a one-document lake.
    */
  private final class IngestFixture {
    val lakeText = words("lake", 25)
    private val lakeDf = Seq((0L, lakeText)).toDF("doc_id", "text")
    val units = ParagraphDedup.unitsBySeparator(_, "\\n")
    def index(): String = {
      val idx = tmpDir("jobs_idx")
      Dedup.lshBuild(lakeDf, "text", "doc_id", idx)
      Dedup.lshWriteFingerprints(lakeDf, "text", idx)
      idx
    }
    def store(): String = {
      val s = tmpDir("jobs_store")
      ParagraphDedup.unitStoreBuild(lakeDf, "doc_id", "text", units, s)
      s
    }
    val in = tmpDir("jobs_in")
    private def stamp(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("fp", xxhash64(col("text")))
        .coalesce(1).write.mode("append").parquet(in)
    private val docA = words("novel", 24)
    stamp(Seq((10L, docA, "src0"), (14L, words("second", 26) + "\nshared line", "src1")))
    stamp(Seq((11L, docA + " extra", "src1"), (12L, "short doc", "src1"),
      (13L, lakeText, "src1"), (15L, words("third", 23) + "\nshared line", "src0")))
  }

  /** An IVF index built over the odd vectors of a 20-vector corpus, and
    * an input dir holding the even vectors as two stamped parquet files.
    */
  private def ivfFixture(): (String, String) = {
    val emb = (0 until 20).map(i => (i.toLong, Array.tabulate(8)(j => math.sin(i * 8.0 + j))))
      .toDF("vec_id", "embedding")
    val idx = tmpDir("jobs_ivf_idx")
    SimilaritySearch.ivfBuild(emb.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", nlist = 4, idx)
    val in = tmpDir("jobs_ivf_in")
    Seq(0, 2).foreach(r => emb.filter(col("vec_id") % 4 === r)
      .coalesce(1).write.mode("append").parquet(in))
    (idx, in)
  }

  private def property(p: java.util.Properties, key: String): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(key)))

  /** Spark jobs per streaming micro-batch id in `log`. */
  private def perBatch(log: JobLog): Map[Long, Int] =
    log.jobs.asScala.toSeq.flatMap(property(_, "streaming.sql.batchId"))
      .groupBy(identity).map { case (b, js) => b.toLong -> js.size }

  /** Spark jobs per streaming micro-batch id of the work `body` runs. */
  private def jobsPerBatch(body: => Unit): Map[Long, Int] = perBatch(logging(body)._2)

  test("the shard loop runs a pinned number of Spark jobs per micro-batch") {
    val f = new IngestFixture
    val (idx, store) = (f.index(), f.store())
    val (_, log) = logging(graft.streaming.DocsStream.runIngestPipelineToShardsAsStream(
      spark, f.in, idx, store, tmpDir("jobs_out"), tmpDir("jobs_sh"), "jobs_mem",
      f.units, "\n", benchmark = Seq((999L, words("bench", 25))).toDF("doc_id", "text"),
      minWords = 20, minUniqRatio = 0.25, sampleNumerator = 256,
      weights = Map("src0" -> 2.0), packBudget = 10000L,
      maxFilesPerTrigger = Some(1)).collect(): Unit)
    // measured on this fixture; a frame re-computed after an index write
    // (the dedup plan's broadcast and shuffle jobs again) raises it. The
    // index, units and tail stages run on branch threads: a branch that
    // lost the batch's local properties would drop out of these totals
    assert(perBatch(log) == Map(0L -> 34, 1L -> 37), perBatch(log).toString)
    val perStage = log.jobs.asScala.toSeq
      .flatMap(p => property(p, "streaming.sql.batchId").map(b =>
        (b.toLong, property(p, graft.streaming.DocsStream.StageProperty).getOrElse("-"))))
      .groupBy(identity).map { case (k, js) => k -> js.size }
    assert(perStage == Map(
      (0L, "accept") -> 14, (0L, "index") -> 5, (0L, "store") -> 4, (0L, "units") -> 2, (0L, "tail") -> 9,
      (1L, "accept") -> 16, (1L, "index") -> 5, (1L, "store") -> 5, (1L, "units") -> 2, (1L, "tail") -> 9),
      perStage.toString)
    // the index and store branches make the first actions on the
    // accepted snapshot concurrently: a snapshot computed twice would
    // submit its shuffle stages again and read their output twice. Both
    // figures equal the sequential body's and repeat run to run here
    assert(log.stages.get == 75, s"${log.stages.get} stages")
    assert(log.shuffleRead.get == 8836L, s"${log.shuffleRead.get} shuffle bytes read")
  }

  test("the other file-fed ingest loops run pinned Spark jobs per batch") {
    import graft.streaming.DocsStream
    val f = new IngestFixture
    val one = Some(1)
    // each loop gets its own index and store, built before its run is logged
    val loops: Seq[(String, () => Unit)] = Seq(
      "pipeline" -> { val (idx, st) = (f.index(), f.store())
        () => DocsStream.runIngestPipelineAsStream(spark, f.in, idx, st,
          tmpDir("jobs_pout"), "jobs_pipe", f.units, "\n",
          maxFilesPerTrigger = one).collect(): Unit },
      "paragraph" -> { val st = f.store()
        () => DocsStream.runParagraphDedupLoopAsStream(spark, f.in, st,
          tmpDir("jobs_gout"), "jobs_par", f.units, "\n",
          maxFilesPerTrigger = one).collect(): Unit },
      "fingerprint" -> { val idx = f.index()
        () => DocsStream.runFingerprintIngestLoopAsStream(spark, f.in, idx,
          "jobs_fp", maxFilesPerTrigger = one).collect(): Unit },
      "index" -> { val idx = f.index()
        () => DocsStream.runIndexDedupLoopAsStream(spark, f.in, idx,
          "jobs_idx", maxFilesPerTrigger = one).collect(): Unit },
      "ivf" -> { val (idx, in) = ivfFixture()
        () => DocsStream.runIvfIngestAsStream(spark, in, idx, "jobs_ivf",
          maxFilesPerTrigger = one) })
    val perBatch = loops.map { case (name, run) => name -> jobsPerBatch(run()) }.toMap
    // measured on this fixture, as the shard loop's pin above
    assert(perBatch == Map(
      "pipeline" -> Map(0L -> 25, 1L -> 28),
      "paragraph" -> Map(0L -> 6, 1L -> 7),
      "fingerprint" -> Map(0L -> 19, 1L -> 21),
      "index" -> Map(0L -> 13, 1L -> 15),
      "ivf" -> Map(0L -> 3, 1L -> 3)), perBatch.toString)
  }
}
