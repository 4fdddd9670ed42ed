package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.spark
  import spark.implicits._

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("hourlyCounts windows and counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = EventsStream.hourlyCounts(df)
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("hourly_test").start()
    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:10:00"), "view", 3.0),
      // advance watermark far enough to close both windows
      (ts("2024-01-01 13:00:00"), "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hourly_test")
      .select(date_format(col("hour"), "HH").as("h"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("10", "click", 2L)))
    assert(rows.contains(("11", "view", 1L)))
  }

  test("dedupWithinWatermark drops redelivered ids, keeps state bounded by the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("event_id", "ts", "event_type")
    val q = EventsStream.dedupWithinWatermark(df, "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_test").start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), "click"),
      (1L, ts("2024-01-01 10:05:00"), "click"), // redelivery within delay: dropped
      (2L, ts("2024-01-01 10:10:00"), "view"))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 10:20:00"), "view")) // cross-batch redelivery
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_test").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L), ids.mkString(","))
  }

  test("sessionize emits closed sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val sessions = EventsStream.sessionize(input.toDS())
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessions_test").start()
    input.addData(
      EventsStream.Event(1, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
      EventsStream.Event(2, ts("2024-01-01 10:10:00"), 7L, "click", 1.0),
      // 40 min gap closes session 1 (2 events, 600s)
      EventsStream.Event(3, ts("2024-01-01 10:50:00"), 7L, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions_test").as[EventsStream.SessionOut].collect()
    assert(rows.exists(s => s.user_id == 7L && s.n_events == 2 && s.duration_sec == 600L),
      rows.mkString(","))
  }

  test("index-dedup loop: a later micro-batch is deduped against an EARLIER batch's accepted docs") {
    import graft.operators.Dedup
    // lake: two docs; its index is the loop's mutable state
    val lake = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark and distributed query engines"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_loop_idx").toString
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    // two input FILES → two micro-batches (maxFilesPerTrigger = 1).
    // file A: doc 10 (novel text X), doc 12 (copy of lake doc 2 → dropped
    // by the PRE-BUILT index). file B: doc 11 (copy of X → must be
    // dropped by the doc ACCEPTED from the other batch — the loop
    // property; it is NOT a dup of anything in the original lake), and
    // doc 13 (novel → kept).
    val novelX = "entirely new material discussing streaming ingestion loops and persisted indexes"
    val in = java.nio.file.Files.createTempDirectory("graft_loop_in").toString
    Seq((10L, novelX),
      (12L, "completely different content about spark and distributed query engines"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((11L, novelX),
      (13L, "yet another unrelated document about benchmark artifacts and pass medians"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val out = DocsStream.runIndexDedupLoopAsStream(spark, in, idx,
        "loop_spec_mem", maxFilesPerTrigger = Some(1))
      .collect().head
    // whichever of {10, 11} processes first is accepted; the other is
    // dropped by the APPEND — kept = that one + 13 = 2 (if the append
    // never happened, both copies of X survive and kept = 3)
    assert(out.getAs[Long]("n_kept") == 2L, out.toString)
    assert(out.getAs[Long]("n_index_docs") == 4L, out.toString)
    // and the index now answers for the accepted X: a third copy of X
    // arriving tomorrow is a duplicate
    val tomorrow = Seq((20L, novelX)).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(tomorrow, idx, "text", "doc_id")
      .count() == 0L)
  }

  test("IVF streaming ingest: multi-batch append equals brute force; checkpointed re-run and batchId retries are no-ops") {
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0).limit(40).cache()
    val n = corpus.count()
    val base = corpus.filter(col("vec_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("ivf_stream_idx").toString
    SimilaritySearch.ivfBuild(base, "embedding", "vec_id", nlist = 4, idx)
    // two input files → two micro-batches
    val in = java.nio.file.Files.createTempDirectory("ivf_stream_in").toString
    corpus.filter(col("vec_id") % 2 === 0 && col("vec_id") % 4 === 0)
      .coalesce(1).write.mode("append").parquet(in)
    corpus.filter(col("vec_id") % 2 === 0 && col("vec_id") % 4 =!= 0)
      .coalesce(1).write.mode("append").parquet(in)
    val ck = java.nio.file.Files.createTempDirectory("ivf_stream_ck").toString
    DocsStream.runIvfIngestAsStream(spark, in, idx, "ivf_ing_mem",
      maxFilesPerTrigger = Some(1), checkpointLocation = Some(ck))
    // full probe with k > corpus: every vector exactly once, equal to
    // brute force over the union — a duplicated append would surface as
    // duplicate id rows here
    def allRows: Seq[Long] = SimilaritySearch.ivfQuery(spark, idx,
      "embedding", "vec_id", query, k = 1000, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val exact = SimilaritySearch.bruteForceTopK(
      corpus, "embedding", "vec_id", query, 1000)
      .collect().map(_.getLong(0)).toSeq
    assert(allRows.length == n && allRows == exact,
      s"${allRows.length}/$n: $allRows vs $exact")
    // restart over the same input + checkpoint: nothing replays
    DocsStream.runIvfIngestAsStream(spark, in, idx, "ivf_ing_mem",
      maxFilesPerTrigger = Some(1), checkpointLocation = Some(ck))
    assert(allRows == exact, "checkpointed re-run mutated the IVF index")
    // at-least-once retry of a committed micro-batch id: no-op
    SimilaritySearch.ivfAppend(corpus.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", idx, appendId = Some("ivf_ing_mem-b0"))
    assert(allRows == exact, "retried micro-batch re-appended")
    corpus.unpersist(): Unit
  }

  test("fingerprint ingest loop: stored-fp exact stage drops within-batch, vs-lake, and cross-batch dups — including docs the LSH stage cannot see") {
    import graft.operators.Dedup
    val lake = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark and distributed query engines"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_fp_idx").toString
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshWriteFingerprints(lake, "text", idx)
    val novelX = "entirely new material discussing streaming ingestion loops and persisted indexes"
    val in = java.nio.file.Files.createTempDirectory("graft_fp_in").toString
    def stamp(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").withColumn("fp", xxhash64(col("text")))
        .coalesce(1).write.mode("append").parquet(in)
    // batch A: 10 novel (kept), 12 byte-identical to lake doc 2 (dropped
    // by the SIDECAR stage), 15 a sub-shingle-length doc (kept — it has
    // no shingles, so the LSH stage can never see it)
    stamp(Seq((10L, novelX),
      (12L, "completely different content about spark and distributed query engines"),
      (15L, "tiny doc")))
    // batch B: 11 copies batch A's accepted novelX (dropped by the
    // CROSS-BATCH sidecar — its fp was appended with batch A), 13 novel
    // (kept), 14 copies 13 within the batch (dropped by the KEEPER
    // stage), 16 copies the sub-shingle doc 15 — the LSH stage is BLIND
    // to it (empty shingles, jaccard 0), only the fp stage can drop it
    stamp(Seq((11L, novelX),
      (13L, "yet another unrelated document about benchmark artifacts and pass medians"),
      (14L, "yet another unrelated document about benchmark artifacts and pass medians"),
      (16L, "tiny doc")))
    val out = DocsStream.runFingerprintIngestLoopAsStream(spark, in, idx,
        "fp_loop_mem", maxFilesPerTrigger = Some(1))
      .collect().head
    assert(out.getAs[Long]("n_kept") == 3L, out.toString)       // 10, 15, 13
    assert(out.getAs[Long]("n_index_docs") == 5L, out.toString) // 2 lake + 3
    // the sidecar tracked every accepted doc (lake 2 + accepted 3)
    assert(Dedup.lshFingerprints(spark, idx).count() == 5L)
    // compaction folds the sidecar with the rest; exactness survives it
    Dedup.lshCompact(spark, idx)
    assert(Dedup.lshFingerprints(spark, idx).count() == 5L)
    val replay = java.nio.file.Files.createTempDirectory("graft_fp_in2").toString
    Seq((20L, "tiny doc"), (21L, "a genuinely fresh document that nothing resembles"))
      .toDF("doc_id", "text").withColumn("fp", xxhash64(col("text")))
      .coalesce(1).write.mode("append").parquet(replay)
    val out2 = DocsStream.runFingerprintIngestLoopAsStream(spark, replay, idx,
        "fp_loop_mem2").collect().head
    assert(out2.getAs[Long]("n_kept") == 1L, out2.toString) // 20 dropped by fp
    // a stream WITHOUT the stored column is refused with the layout hint
    val e = intercept[IllegalArgumentException] {
      DocsStream.runFingerprintIngestLoopAsStream(spark, replay.toString,
        idx, "fp_loop_mem3", fpCol = "nope")
    }
    assert(e.getMessage.contains("hash-at-ingest"), e.getMessage)
  }

  test("paragraph loop: a later micro-batch drops units accepted from an EARLIER batch; output is the rewritten text") {
    import graft.operators.{ParagraphDedup, UnitStore}
    val lake = Seq((0L, "boilerplate banner\nlake only paragraph"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("ppl_store").toString
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store, buckets = 2)
    // two FILES → two micro-batches. Both docs carry "shared middle"
    // (novel to the lake): whichever batch runs first keeps it and
    // appends its key; the other batch must then DROP it — the loop
    // property. Both also carry a lake unit (store stage) and a unique
    // tail (kept either way).
    val in = java.nio.file.Files.createTempDirectory("ppl_in").toString
    Seq((10L, "boilerplate banner\nshared middle\nunique ten"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((11L, "shared middle\nunique eleven\nboilerplate banner"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("ppl_out").toString
    val summary = DocsStream.runParagraphDedupLoopAsStream(spark, in, store,
        out, "ppl_loop_mem", ParagraphDedup.unitsBySeparator(_, "\\n"), "\n",
        maxFilesPerTrigger = Some(1))
      .collect().head
    val cleaned = spark.read.parquet(out)
      .select(col("doc_id"), col("clean_text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exactly ONE of the two kept "shared middle"; unique tails survive;
    // the lake unit survives nowhere
    assert(Seq(cleaned(10L), cleaned(11L))
      .count(_.contains("shared middle")) == 1, cleaned.toString)
    assert(cleaned(10L).contains("unique ten"))
    assert(cleaned(11L).contains("unique eleven"))
    assert(!cleaned(10L).contains("boilerplate") &&
      !cleaned(11L).contains("boilerplate"), cleaned.toString)
    // store grew by exactly the three novel units
    assert(summary.getAs[Long]("n_store_keys") == 2L + 3L, summary.toString)
    assert(UnitStore.keyCount(spark, store) == 5L)
    // 6 units in, 3 dropped (two lake hits + one shared-middle loser)
    assert(summary.getAs[Long]("n_units") == 6L, summary.toString)
    assert(summary.getAs[Long]("n_dropped") == 3L, summary.toString)
  }

  test("paragraph loop restart/retry: checkpointed re-run is a no-op; a replay recomputes IDENTICAL cleaned output after its append committed") {
    import graft.operators.ParagraphDedup
    val lake = Seq((0L, "boilerplate banner\nlake only paragraph"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("pplr_store").toString
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store)
    val in = java.nio.file.Files.createTempDirectory("pplr_in").toString
    val batch = Seq(
      (10L, "boilerplate banner\nfresh paragraph\nfresh paragraph"),
      (11L, "fresh paragraph\nanother tail"))
      .toDF("doc_id", "text")
    batch.coalesce(1).write.mode("append").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("pplr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pplr_ckpt").toString
    def run() = DocsStream.runParagraphDedupLoopAsStream(spark, in, store,
      out, "pplr_loop_mem", ParagraphDedup.unitsBySeparator(_, "\\n"), "\n",
      checkpointLocation = Some(ckpt)).collect().head.toSeq
    val first = run()
    // checkpointed re-run processes nothing: summary identical, store
    // tally unchanged
    assert(run() == first)
    // REPLAY DETERMINISM: recompute batch 0's accept stage the way a
    // foreachBatch retry would — with the batch's own committed appendId
    // EXCLUDED — and it must equal the committed per-batch output even
    // though the store now contains the batch's novel keys
    val a = ParagraphDedup.storeAccept(batch, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n", store,
      excludeAppendIds = Seq("pplr_loop_mem-b0"))
    val replay = a.cleaned.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    a.release()
    val committed = spark.read.parquet(s"$out/batch_id=0")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_units"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text")))).toMap
    assert(replay == committed)
    // WITHOUT the exclusion the replay would see its own keys and drop
    // everything — the failure mode the hook exists for
    val b = ParagraphDedup.storeAccept(batch, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n", store)
    assert(b.cleaned.collect().forall(_.getAs[String]("clean_text").isEmpty))
    b.release()
  }

  test("ingest pipeline: exact + near-dup + paragraph stages compose across micro-batches; every read self-excludes so a replay recomputes identical output") {
    import graft.operators.{Dedup, ParagraphDedup, UnitStore}
    val lake = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today\nboilerplate banner"),
      (2L, "completely different content about spark and distributed query engines\nboilerplate banner"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("pipe_idx").toString
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshWriteFingerprints(lake, "text", idx)
    val store = java.nio.file.Files.createTempDirectory("pipe_store").toString
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store)
    val novelX = "entirely new material discussing streaming ingestion loops and persisted indexes"
    val in = java.nio.file.Files.createTempDirectory("pipe_in").toString
    // file 1: a byte-identical refetch of lake doc 2 (EXACT stage drops
    // it before any signing) + novel doc 10 carrying the lake's
    // boilerplate unit and two novel units
    val b0 = Seq(
      (10L, s"$novelX\nboilerplate banner\nshared fresh paragraph"),
      (12L, "completely different content about spark and distributed query engines\nboilerplate banner"))
      .toDF("doc_id", "text").withColumn("fp", xxhash64(col("text")))
    b0.coalesce(1).write.mode("append").parquet(in)
    // file 2: doc 11 near-duplicates doc 10's accepted text (LSH stage,
    // across batches) + novel doc 13 repeating doc 10's accepted
    // "shared fresh paragraph" (paragraph stage, across batches)
    Seq(
      (11L, s"$novelX\nboilerplate banner\nshared fresh paragraph extra"),
      (13L, "yet another unrelated document about benchmark artifacts and pass medians\nshared fresh paragraph"))
      .toDF("doc_id", "text").withColumn("fp", xxhash64(col("text")))
      .coalesce(1).write.mode("append").parquet(in)
    val out = java.nio.file.Files.createTempDirectory("pipe_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pipe_ckpt").toString
    def run() = DocsStream.runIngestPipelineAsStream(spark, in, idx, store,
      out, "pipe_mem", ParagraphDedup.unitsBySeparator(_, "\\n"), "\n",
      maxFilesPerTrigger = Some(1), checkpointLocation = Some(ckpt))
    val summary = run().collect().head
    // doc 12 dropped by the exact stage, doc 11 by the near-dup stage
    // AGAINST THE BATCH-0 APPEND (not the original lake); 10 and 13 kept
    assert(summary.getAs[Long]("n_kept") == 2L, summary.toString)
    assert(summary.getAs[Long]("n_index_docs") == 4L, summary.toString)
    val cleaned = spark.read.parquet(out)
      .select(col("doc_id"), col("clean_text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned.keySet == Set(10L, 13L), cleaned.toString)
    // doc 10: lake boilerplate dropped, novel units kept; doc 13's copy
    // of "shared fresh paragraph" dropped against batch 0's accept
    assert(cleaned(10L) == s"$novelX\nshared fresh paragraph", cleaned.toString)
    assert(cleaned(13L) ==
      "yet another unrelated document about benchmark artifacts and pass medians",
      cleaned.toString)
    // lake store = 3 distinct units; doc 10 adds novelX + "shared fresh
    // paragraph", doc 13 adds its own body — 6 total
    assert(summary.getAs[Long]("n_store_keys") == 3L + 3L, summary.toString)
    // checkpointed re-run: processes nothing, changes nothing
    assert(run().collect().head.toSeq == summary.toSeq)
    assert(Dedup.lshIndexDocCount(spark, idx) == 4L)
    assert(UnitStore.keyCount(spark, store) == 6L)
    // REPLAY DETERMINISM of the LSH stage: batch 0's accept recomputed
    // with its own appendId excluded equals the original accept set,
    // even though the index now holds doc 10 (whose twin-in-the-index
    // would otherwise drop it); without the exclusion it drops
    val b0replay = Dedup.dedupAgainstIndexFingerprinted(b0, idx,
      "text", "doc_id", "fp", excludeAppendIds = Seq("pipe_mem-b0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(b0replay == Set(10L), b0replay.toString)
    assert(Dedup.dedupAgainstIndexFingerprinted(b0, idx,
      "text", "doc_id", "fp").count() == 0L,
      "without self-exclusion the replayed batch should drop against itself")
  }

  test("ingest-to-shards pipeline: the curation tail lands per-batch shards, cross-batch dedup reaches them, quality drops are tail-only, and a checkpointed re-run is a no-op") {
    import graft.operators.{Dedup, ParagraphDedup}
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val lakeText = words("lake", 25)
    val lake = Seq((0L, lakeText)).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("shards_idx").toString
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshWriteFingerprints(lake, "text", idx)
    val store = java.nio.file.Files.createTempDirectory("shards_store").toString
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store)
    val docA = words("novel", 24)
    val in = java.nio.file.Files.createTempDirectory("shards_in").toString
    def stamp(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("fp", xxhash64(col("text")))
        .coalesce(1).write.mode("append").parquet(in)
    // batch 0: doc 10 novel (kept, src0 → mixed to 2 replicas)
    stamp(Seq((10L, docA, "src0")))
    // batch 1: 11 near-dups batch 0's ACCEPTED doc (LSH drop, cross-
    // batch), 12 passes every dedup stage but fails the QUALITY floor
    // (tail-only drop), 13 is a byte-identical lake refetch (fp drop)
    stamp(Seq((11L, docA + " extra", "src1"),
      (12L, "short doc", "src1"), (13L, lakeText, "src1")))
    val out = java.nio.file.Files.createTempDirectory("shards_out").toString
    val shards = java.nio.file.Files.createTempDirectory("shards_sh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("shards_ck").toString
    def run() = DocsStream.runIngestPipelineToShardsAsStream(spark, in, idx,
      store, out, shards, "shards_mem",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n",
      benchmark = Seq((999L, words("bench", 25))).toDF("doc_id", "text"),
      minWords = 20, minUniqRatio = 0.25, sampleNumerator = 256,
      weights = Map("src0" -> 2.0), packBudget = 10000L,
      maxFilesPerTrigger = Some(1), checkpointLocation = Some(ckpt))
    val summary = run().collect().map(_.toSeq).toSet
    // one (lang, bin) cell: doc 10 × 2 replicas, 24 tokens each
    assert(summary == Set(Seq("en", 0L, 2L, 48L)), summary.toString)
    // the shard files: replica-expanded doc 10 only — 11 never passed
    // dedup, 13 never passed the fp stage, 12 passed dedup (it IS in
    // the cleaned lake product) but failed the tail's quality floor
    val shardRows = spark.read.parquet(shards)
      .select(col("doc_id"), col("replica")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shardRows == Set((10L, 0L), (10L, 1L)), shardRows.toString)
    val cleanedIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanedIds == Set(10L, 12L), cleanedIds.toString)
    // checkpointed re-run: processes nothing, shards unchanged
    assert(run().collect().map(_.toSeq).toSet == Set(Seq("en", 0L, 2L, 48L)))
    assert(spark.read.parquet(shards).count() == 2L)
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L) // lake + 10 + 12
  }

  test("ingest-to-shards concurrency contract: a failing index branch fails the micro-batch only after the store branch returned, no branch thread outlives the batch, and the checkpointed re-run equals an uninterrupted run") {
    import graft.operators.{Dedup, ParagraphDedup, UnitStore}
    import scala.jdk.CollectionConverters._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    def tmp(p: String): String = java.nio.file.Files.createTempDirectory(p).toString
    val lakeText = words("lake", 25)
    val lake = Seq((0L, lakeText)).toDF("doc_id", "text")
    val units = ParagraphDedup.unitsBySeparator(_, "\\n")
    val in = tmp("conc_in")
    def stamp(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("fp", xxhash64(col("text")))
        .coalesce(1).write.mode("append").parquet(in)
    stamp(Seq((10L, words("novel", 24), "src0"),
      (14L, words("second", 26) + "\nshared line", "src1")))
    stamp(Seq((11L, words("novel", 24) + " extra", "src1"), (13L, lakeText, "src1"),
      (15L, words("third", 23) + "\nshared line", "src0")))
    final case class Dirs(idx: String, store: String, out: String, shards: String, ckpt: String)
    def fresh(tag: String): Dirs = {
      val d = Dirs(tmp(s"${tag}_idx"), tmp(s"${tag}_store"), tmp(s"${tag}_out"),
        tmp(s"${tag}_sh"), tmp(s"${tag}_ck"))
      Dedup.lshBuild(lake, "text", "doc_id", d.idx)
      Dedup.lshWriteFingerprints(lake, "text", d.idx)
      ParagraphDedup.unitStoreBuild(lake, "doc_id", "text", units, d.store)
      d
    }
    def run(d: Dirs, name: String): Set[Seq[Any]] =
      DocsStream.runIngestPipelineToShardsAsStream(spark, in, d.idx, d.store,
        d.out, d.shards, name, units, "\n",
        benchmark = Seq((999L, words("bench", 25))).toDF("doc_id", "text"),
        minWords = 20, minUniqRatio = 0.25, sampleNumerator = 256,
        weights = Map("src0" -> 2.0), packBudget = 10000L,
        maxFilesPerTrigger = Some(1), checkpointLocation = Some(d.ckpt))
        .collect().map(_.toSeq).toSet
    def branchThreads: Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.toSet.filter(_.getName == "graft-ingest-branch")
    def state(d: Dirs) = (
      spark.read.parquet(d.out).collect().map(_.toSeq).toSet,
      spark.read.parquet(d.shards).collect().map(_.toSeq).toSet,
      Dedup.lshIndexCommittedDocs(spark, d.idx),
      UnitStore.read(spark, d.store).select("h").collect().map(_.getLong(0)).toSet)

    val ref = fresh("conc_ref")
    val expected = run(ref, "conc_ref")
    assert(branchThreads.isEmpty, branchThreads.toString)

    // a foreign writer holds the index's lease: the index branch's
    // lshAppend fails at once, while the store branch has work to do
    val d = fresh("conc")
    val lock = new java.io.File(d.idx, "_lock")
    java.nio.file.Files.writeString(lock.toPath, "foreign-writer")
    val e = intercept[Exception](run(d, "conc_mem"))
    val cme = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case c: java.util.ConcurrentModificationException => c }
    assert(cme.exists(_.getMessage.contains("locked by another writer (foreign-writer")), e.toString)
    assert(branchThreads.isEmpty, branchThreads.toString)
    // the failure surfaced only after the store branch returned: its
    // unit-store append committed, and the cleaned docs and the tail's
    // shards of batch 0 landed; the index append never ran
    assert(new java.io.File(d.store, "_commits/conc_mem-b0").isFile)
    assert(new java.io.File(d.out, "batch_id=0/_SUCCESS").isFile)
    assert(new java.io.File(d.shards, "batch_id=0/_SUCCESS").isFile)
    assert(!new java.io.File(d.idx, "_commits/conc_mem-b0").exists())

    // the lease is gone: the checkpointed re-run replays batch 0 (its
    // store append no-ops on the marker) and ends where an uninterrupted
    // run ends
    assert(lock.delete())
    assert(run(d, "conc_mem") == expected)
    assert(state(d) == state(ref))
    assert(branchThreads.isEmpty, branchThreads.toString)
  }

  test("paragraph loop compactEvery is DEFERRED: compaction folds only checkpoint-committed batches, and the newest batch replays to identical output after a compact") {
    import graft.operators.{ParagraphDedup, UnitStore}
    val lake = Seq((0L, "boilerplate banner\nlake only paragraph"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("pplc_store").toString
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store)
    val in = java.nio.file.Files.createTempDirectory("pplc_in").toString
    val rows = Seq(
      (10L, "boilerplate banner\nshared middle\nunique ten"),
      (11L, "shared middle\nunique eleven\nboilerplate banner"))
    rows.foreach(r => Seq(r).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in))
    val out = java.nio.file.Files.createTempDirectory("pplc_out").toString
    val summary = DocsStream.runParagraphDedupLoopAsStream(spark, in, store,
        out, "pplc_loop_mem", ParagraphDedup.unitsBySeparator(_, "\\n"), "\n",
        maxFilesPerTrigger = Some(1), compactEvery = Some(1))
      .collect().head
    // same accept semantics as the plain loop: 6 units in, 3 dropped
    assert(summary.getAs[Long]("n_units") == 6L, summary.toString)
    assert(summary.getAs[Long]("n_dropped") == 3L, summary.toString)
    assert(UnitStore.keyCount(spark, store) == 5L)
    // the compact at batch 1's start folded batch 0 (tombstone) but
    // carried batch 1's own appendId policy — batch 1 appended AFTER the
    // compact, so its marker has a payload and its rows are excludable
    def commits = {
      val (fs, root) = graft.operators.IndexLifecycle.fsFor(spark, store)
      graft.operators.IndexLifecycle.markers(fs, root).toMap
    }
    assert(commits("pplc_loop_mem-b0").attempt.isEmpty,
      "checkpoint-committed batch 0 was not folded")
    assert(commits("pplc_loop_mem-b1").attempt.nonEmpty,
      "batch 1's append has no live marker")
    // THE ADVICE SCENARIO: replay the newest batch (crash before its
    // checkpoint commit, after append + any compaction) — the recompute
    // with self-exclusion must equal the committed per-batch output.
    // (Derive batch 1's input from its committed output — file→batch
    // assignment order is the source's business, not the spec's.)
    val ids1 = spark.read.parquet(s"$out/batch_id=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b1 = rows.filter(r => ids1.contains(r._1)).toDF("doc_id", "text")
    val a = ParagraphDedup.storeAccept(b1, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n", store,
      excludeAppendIds = Seq("pplc_loop_mem-b1"))
    val replay = a.cleaned.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    a.release()
    val committed = spark.read.parquet(s"$out/batch_id=1").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_units"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text")))).toMap
    assert(replay == committed,
      s"replay after compact diverged: $replay vs $committed")
    // and a deferred compact (the next run's batch window) folds batch 1
    UnitStore.compact(spark, store)
    assert(commits("pplc_loop_mem-b1").attempt.isEmpty)
    assert(UnitStore.keyCount(spark, store) == 5L)
  }

  test("index-dedup loop with compactEvery: per-batch compaction changes neither the accept set nor retry idempotency") {
    import graft.operators.Dedup
    val lake = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark and distributed query engines"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_loop_cp_idx").toString
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    val novelX = "entirely new material discussing streaming ingestion loops and persisted indexes"
    val in = java.nio.file.Files.createTempDirectory("graft_loop_cp_in").toString
    Seq((10L, novelX),
      (12L, "completely different content about spark and distributed query engines"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((11L, novelX),
      (13L, "yet another unrelated document about benchmark artifacts and pass medians"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    // same fixture and expectations as the plain loop spec — compaction
    // after every micro-batch must not change the accepted set
    val out = DocsStream.runIndexDedupLoopAsStream(spark, in, idx,
        "loop_cp_mem", maxFilesPerTrigger = Some(1), compactEvery = Some(1))
      .collect().head
    assert(out.getAs[Long]("n_kept") == 2L, out.toString)
    assert(out.getAs[Long]("n_index_docs") == 4L, out.toString)
    // appends folded into the base layout; markers survive as
    // idempotency tombstones (no attempt id), so a post-compact replay
    // of a committed micro-batch is still a no-op
    val markers = {
      val (fs, root) = graft.operators.IndexLifecycle.fsFor(spark, idx)
      graft.operators.IndexLifecycle.markers(fs, root)
    }
    assert(markers.nonEmpty && markers.forall(_._2.attempt.isEmpty), markers.toString)
    Dedup.lshAppend(Seq((20L, novelX)).toDF("doc_id", "text"),
      "text", "doc_id", idx, appendId = Some("loop_cp_mem-b0"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 4L, "folded batch replayed")
  }

  test("index-dedup loop is restart- and retry-safe: a checkpointed re-run over the same input is a no-op") {
    import graft.operators.Dedup
    val lake = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_loop_ck_idx").toString
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    val in = java.nio.file.Files.createTempDirectory("graft_loop_ck_in").toString
    Seq((10L, "entirely new material discussing streaming ingestion loops and persisted indexes"),
      (12L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val ck = java.nio.file.Files.createTempDirectory("graft_loop_ck").toString
    val r1 = DocsStream.runIndexDedupLoopAsStream(spark, in, idx,
      "loop_ck_mem", checkpointLocation = Some(ck)).collect().head
    assert(r1.getAs[Long]("n_kept") == 1L && r1.getAs[Long]("n_index_docs") == 2L,
      r1.toString)
    // the restart: same input, same checkpoint — the file source replays
    // nothing, and even a replayed micro-batch would hit its committed
    // appendId marker; the index must be byte-for-byte equivalent
    val r2 = DocsStream.runIndexDedupLoopAsStream(spark, in, idx,
      "loop_ck_mem", checkpointLocation = Some(ck)).collect().head
    assert(r2.getAs[Long]("n_kept") == 0L && r2.getAs[Long]("n_index_docs") == 2L,
      s"checkpointed re-run mutated the index: $r2")
    // the at-least-once retry inside one run: re-delivering the SAME
    // micro-batch id against the mutated index is a no-op append (the
    // commit marker for queryName-b0 exists), so no duplicate rows
    Dedup.lshAppend(
      Seq((10L, "entirely new material discussing streaming ingestion loops and persisted indexes"))
        .toDF("doc_id", "text"), "text", "doc_id", idx,
      appendId = Some("loop_ck_mem-b0"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 2L)
  }

  test("runDedupAsStream bridges a raw nanos-int64 ts column (driver data has shipped both ways)") {
    // The driver has regenerated testdata with ts as TIMESTAMP(NANOS)
    // (read as raw longs under nanosAsLong) in some rounds and as
    // timestamp[us] in others; the stream bridges must branch on the
    // observed dtype. The µs shape is exercised by the gate queries on
    // current testdata — this pins the nanos-long shape.
    val dir = java.nio.file.Files.createTempDirectory("nanos_events").toString
    val base = graft.queries.load(spark, "/root/testdata/sf0.001", "events")
      .limit(500)
      .select(col("event_id"), (col("ts").cast("long") * 1000000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    base.coalesce(1).write.mode("overwrite").parquet(dir)
    val out = EventsStream.runDedupAsStream(spark, dir, "nanos_dedup_mem")
    assert(out.count() == 500)
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("batch parquet drives the streaming pipeline to the same hourly counts") {
    val streamed = EventsStream.runBatchAsStream(spark, "/root/testdata/sf0.001", "events_stream_test")
    // compare against the batch q33 aggregation (modulo watermark-dropped
    // trailing window)
    val batch = graft.queries.load(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val s = streamed.select(col("hour"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toMap2
    val b = batch.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toMap2
    // every streamed window must match the batch count exactly
    assert(s.nonEmpty)
    s.foreach { case (k, v) => assert(b.get(k).contains(v), s"window $k: $v vs ${b.get(k)}") }
  }

  test("clickAttribution joins purchases to clicks within the window, drops outside") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val joined = EventsStream.clickAttribution(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts", "value"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("attr_test").start()
    clicks.addData((1L, 7L, ts("2024-01-01 10:00:00")), (2L, 8L, ts("2024-01-01 10:00:00")))
    purchases.addData(
      (10L, 7L, ts("2024-01-01 10:30:00"), 5.0),  // in window  -> match
      (11L, 7L, ts("2024-01-01 12:00:00"), 9.0),  // too late   -> no match
      (12L, 9L, ts("2024-01-01 10:10:00"), 1.0))  // other user -> no match
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_test")
      .select(col("click_id"), col("purchase_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 10L, 5.0)))
  }

  implicit class Tup3Ops(a: Array[(java.sql.Timestamp, String, Long)]) {
    def toMap2: Map[(java.sql.Timestamp, String), Long] =
      a.map(t => (t._1, t._2) -> t._3).toMap
  }
}
