package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 persisted-LSH-index lifecycle contracts: crash-safe +
  * idempotent appends (commit markers), compaction, the one supported
  * on-disk layout, URI-addressed layouts, and the cached catalog
  * registration.
  */
class LshIndexLifecycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.spark
  import spark.implicits._

  private val lakeRows = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "completely different content about spark and distributed query engines"))
  private val doc4 =
    (4L, "unrelated text regarding machine learning data pipelines at scale")
  private def lake = lakeRows.toDF("doc_id", "text")
  private def b1 = Seq(doc4).toDF("doc_id", "text")
  // probes: 1 near-dups lake doc 0, 3 dups lake doc 2, 7 dups appended doc 4
  private def probe = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
    (3L, "completely different content about spark and distributed query engines"),
    (7L, doc4._2)).toDF("doc_id", "text")

  private def pairs(idx: String, df: DataFrame = probe): Seq[(Long, Long)] = {
    val rows = Dedup.minhashLshIndexPairs(df, idx, "text", "doc_id",
      threshold = 0.7).select(col("id"), col("ref_id")).collect()
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
  }
  private def tmpDir(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString
  private def commitMarkers(idx: String): Array[java.io.File] =
    Option(new java.io.File(idx, "_commits").listFiles())
      .getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
  /** The markers of the store at `idx` that a compact folded: every
    * marker, by appendId, paired with whether it is a tombstone (it
    * carries no attempt id).
    */
  private def tombstones(idx: String): Map[String, Boolean] = {
    val (fs, root) = IndexLifecycle.fsFor(spark, idx)
    IndexLifecycle.markers(fs, root).map { case (id, m) => id -> m.attempt.isEmpty }.toMap
  }

  test("lshAppend with the same appendId is a no-op: retried appends never duplicate index rows") {
    val idx = tmpDir("lsh_idem")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
    val once = pairs(idx)
    assert(once.toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)), once.toString)
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
    // the at-least-once retry: same appendId again (twice, for measure)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
    val again = pairs(idx)
    assert(again == once, s"retry changed results: $again vs $once")
    // pair-LEVEL check: a duplicated append would emit (7,4) twice from
    // the verify join — the exact silent corruption this protocol stops
    assert(again.count(_ == (7L, 4L)) == 1, again.toString)
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 3L)
    // a distinct appendId is a distinct append and keeps accumulating
    Dedup.lshAppend(
      Seq((6L, "yet another unrelated document about benchmark artifacts and pass medians"))
        .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("day2"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 4L)
  }

  test("crashed append (no commit marker) is invisible; the retry completes it exactly once") {
    val idx = tmpDir("lsh_crash")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    val before = pairs(idx)
    assert(before.toSet == Set((1L, 0L), (3L, 2L)), before.toString)
    // simulate a crash after the data writes but before the commit: run
    // a full append (real band rows AND hashes land in the dirs), then
    // remove its marker — byte-identical to the crash-window state
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
    commitMarkers(idx).foreach(f => assert(f.delete()))
    // uncommitted rows must not surface: not as pairs, not in the tally
    assert(pairs(idx).toSet == before.toSet,
      "uncommitted append rows leaked into query results")
    assert(Dedup.lshIndexDocCount(spark, idx) == 2L)
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 2L)
    // ... and crucially doc 4 is NOT half-present: the whole batch reads
    // as never-appended, so the retry re-appends it (the unguarded
    // layout left band rows whose candidates silently vanished in the
    // verify join — missed dups with no error)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
    val after = pairs(idx)
    assert(after.toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)), after.toString)
    // the garbage rows from the crashed attempt share doc 4's content;
    // only the committed attempt may surface — exactly one (7,4) pair
    assert(after.count(_ == (7L, 4L)) == 1, after.toString)
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
  }

  test("lshCompact folds appends: ≤ nb band files, identical pairs, markers cleared, params preserved") {
    val idx = tmpDir("lsh_compact")
    Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 4)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1"))
    Dedup.lshAppend(
      Seq((6L, "yet another unrelated document about benchmark artifacts and pass medians"))
        .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("d2"))
    // plant a crashed attempt too — compact must drop its garbage rows
    Dedup.lshAppend(
      Seq((8L, "garbage attempt that never committed and must be dropped"))
        .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("d3"))
    commitMarkers(idx).filter(_.getName == "d3").foreach(f => assert(f.delete()))
    def bandFiles = Option(new java.io.File(idx, "bands").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    val filesBefore = bandFiles
    assert(filesBefore > 4, s"fixture too small to prove compaction: $filesBefore")
    val before = pairs(idx)
    Dedup.lshCompact(spark, idx)
    assert(bandFiles <= 4 && bandFiles > 0,
      s"compact left $bandFiles band files (was $filesBefore, nb=4)")
    assert(pairs(idx).toSet == before.toSet, "compaction changed pair results")
    // markers are FOLDED to tombstones, not deleted: they remain the
    // idempotency record for batches whose append committed before the
    // compact (an at-least-once replay must still no-op)
    assert(tombstones(idx) == Map("d1" -> true, "d2" -> true), tombstones(idx).toString)
    Dedup.lshAppend(b1.withColumn("doc_id", lit(777L)), "text", "doc_id", idx,
      appendId = Some("d1")) // folded id → no-op; doc 777 never enters
    assert(Dedup.lshIndexDocCount(spark, idx) == 4L)
    assert(pairs(idx).toSet == before.toSet)
    assert(!new java.io.File(idx, "bands.compact").exists() &&
      !new java.io.File(idx, "bands.old").exists(), "compact left swap dirs")
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[Int]("num_perm") == 128 &&
      meta.getAs[Int]("band_buckets") == 4, meta.toString)
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 4L) // garbage doc 8 never counted
    // the lifecycle continues on the compacted layout
    Dedup.lshAppend(
      Seq((9L, "post compact append of a fresh document about partition layouts"))
        .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("d4"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 5L)
    assert(pairs(idx).toSet == before.toSet)
  }

  test("index addressed by file: URI — build, query, append, compact all run through the FileSystem API") {
    val dir = tmpDir("lsh_uri")
    val idx = "file:" + dir
    Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 2)
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L)))
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("u1"))
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)))
    Dedup.lshCompact(spark, idx)
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)))
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
    // the same physical index addressed with and without the scheme
    // resolves to ONE catalog name (qualified-URI identity)
    assert(pairs(dir).toSet == pairs(idx).toSet)
  }

  test("bucketed-hashes layout: the verify join's lake side reads bucketed and shuffles nothing (huge-batch regime)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("lsh_hbkt")
    val idx = dir.toString
    Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 4)
    // pin the structural claim, not AQE's small-data shortcut: with
    // runtime broadcast conversion off, the verify join must plan
    // sort-merge with NO exchange under the lake-hashes side — its
    // bucketed scan already satisfies the ref_id distribution
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    restore.foreach { case (k, _) => spark.conf.set(k, "-1") }
    try {
      val q = Dedup.minhashLshIndexPairs(probe, idx, "text", "doc_id",
        threshold = 0.7, broadcastMaxBandRows = 0L)
      val got = q.select(col("id"), col("ref_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 0L), (3L, 2L)), got.toString)
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val verifyJoins = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("ref_id")) &&
            Seq(j.left, j.right).exists(_.toString.contains("hashes")) => j
      }
      assert(verifyJoins.nonEmpty, plan.toString.take(1500))
      verifyJoins.foreach { j =>
        // the candidates side ALSO scans the index dir (its band table),
        // so identify the lake-hashes side by the hashes table itself
        val lakeSide = Seq(j.left, j.right)
          .find(s => s.toString.contains("graft_lsh_hashes_") ||
            s.toString.contains(s"${dir.getFileName}/hashes"))
        assert(lakeSide.isDefined, "hashes scan not under the verify join:\n" +
          plan.toString.take(1500))
        assert(lakeSide.get.toString.contains("Bucketed: true"),
          "hashes scan lost the bucket spec:\n" + lakeSide.get.toString.take(800))
        val exchanges = lakeSide.get.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.isEmpty, "lake hashes shuffled despite bucketed " +
          "layout:\n" + lakeSide.get.toString.take(1500))
      }
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("IVF index lifecycle: crash-safe idempotent append and compaction — same protocol as the LSH index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val base = corpus.filter(col("vec_id") % 2 === 1)
    val batch = corpus.filter(col("vec_id") % 2 === 0)
    val idx = tmpDir("ivf_lc")
    SimilaritySearch.ivfBuild(base, "embedding", "vec_id", nlist = 8, idx)
    def top10: Seq[Long] = SimilaritySearch.ivfQuery(spark, idx, "embedding",
      "vec_id", query, k = 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val baseTop = top10
    // crash simulation: a committed append whose marker is then removed
    // reads as never-appended (partial writes invisible)
    SimilaritySearch.ivfAppend(batch, "embedding", "vec_id", idx,
      appendId = Some("day1"))
    commitMarkers(idx).foreach(f => assert(f.delete()))
    assert(top10 == baseTop, "uncommitted IVF append rows leaked")
    // the retry completes it; full probe == brute force over the union
    // (lossless cells + frozen quantizer), and a re-retry is a no-op
    SimilaritySearch.ivfAppend(batch, "embedding", "vec_id", idx,
      appendId = Some("day1"))
    SimilaritySearch.ivfAppend(batch, "embedding", "vec_id", idx,
      appendId = Some("day1"))
    val exact = SimilaritySearch.bruteForceTopK(
      corpus, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(top10 == exact, s"$top10 vs $exact")
    // compaction folds the append (garbage attempt rows dropped, marker
    // tombstoned) without changing results; folded id still no-ops
    SimilaritySearch.ivfCompact(spark, idx)
    assert(top10 == exact)
    assert(tombstones(idx) == Map("day1" -> true), tombstones(idx).toString)
    SimilaritySearch.ivfAppend(batch, "embedding", "vec_id", idx,
      appendId = Some("day1"))
    assert(top10 == exact, "folded appendId replayed")
  }

  test("lshAppend never scans the index's data: bytes read stay batch-sized, the committed count increments") {
    import spark.implicits._
    // a lake big enough that any recount regression is unmissable in the
    // task metrics: ~4k docs of 40 random words → >1 MB of band/hash data
    val rnd = new scala.util.Random(11)
    val vocab = Array.tabulate(500)(i => s"word$i")
    def text(): String =
      Array.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val lakeDf = (0L until 4000L).map(i => (i, text())).toDF("doc_id", "text")
    val idx = tmpDir("lsh_zeroscan")
    Dedup.lshBuild(lakeDf, "text", "doc_id", idx)
    def dirBytes(sub: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else f.length()
      walk(new java.io.File(idx, sub))
    }
    val dataBytes = dirBytes("bands") + dirBytes("hashes")
    assert(dataBytes > (1L << 20), s"fixture too small to prove the claim: $dataBytes")
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          read.addAndGet(t.taskMetrics.inputMetrics.bytesRead): Unit
    }
    // the listener bus is async — wait until the counter stops moving
    def awaitStable(): Long = {
      var prev = -1L
      var stable = 0
      val t0 = System.nanoTime()
      while (stable < 2 && (System.nanoTime() - t0) < 10000000000L) {
        Thread.sleep(200)
        val now = read.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
      read.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      awaitStable() // drain any stragglers from the build's jobs
      read.set(0)
      Dedup.lshAppend(Seq((9001L, text()), (9002L, text())).toDF("doc_id", "text"),
        "text", "doc_id", idx, appendId = Some("day1"))
      val got = awaitStable()
      // allowed reads: the one-row meta and a schema footer — KBs. A
      // recount of the hashes table (the round-16 shape) reads the whole
      // narrow column and fails this bound immediately.
      assert(got < 256 * 1024,
        s"lshAppend read $got bytes with $dataBytes bytes of index data — " +
          "an index-scan crept back into the append path")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the committed count (build count plus the marker's) agrees with
    // the full recount
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 4002L)
    assert(Dedup.lshIndexDocCount(spark, idx) == 4002L)
  }

  test("interrupted compact (crash inside the swap window) auto-restores at index open") {
    // simulate a compact dying between its two renames of `dir`: live
    // moved aside to .old, fresh (.compact) not yet published — the
    // store has no live `dir` at all. Opening the store (`answer`)
    // restores the .old dir instead of failing on the missing path and
    // answers exactly as before the crash; the re-run compact completes
    // and clears the stray .compact dir. `counts` (the committed count
    // and the scan count, where the store keeps one) agree throughout.
    def crashInSwap[T](root: String, dir: String, counts: => Option[(Long, Long)] = None)(
        answer: => T)(compact: => Unit): Unit = {
      def exact(): Unit = counts.foreach { case (tally, scan) =>
        assert(tally == scan, s"$dir: committed count $tally, scan $scan")
      }
      val before = answer
      val live = new java.io.File(root, dir)
      val old = new java.io.File(root, s"$dir.old")
      val fresh = new java.io.File(root, s"$dir.compact")
      assert(live.renameTo(old))
      assert(fresh.mkdirs())
      assert(answer == before, s"$dir: open did not auto-restore the swap")
      assert(live.exists() && !old.exists(), s"$dir: .old not restored")
      exact()
      compact
      assert(answer == before, s"$dir: the re-run compact changed the answer")
      exact()
      assert(!fresh.exists() && !old.exists(), s"$dir: compact left swap dirs")
    }
    // LSH band rows
    val idx = tmpDir("lsh_swapcrash")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1"))
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)))
    def lshCounts(idx: String) =
      Some((Dedup.lshIndexCommittedDocs(spark, idx), Dedup.lshIndexDocCount(spark, idx)))
    crashInSwap(idx, "bands", lshCounts(idx))(pairs(idx).toSet)(Dedup.lshCompact(spark, idx))
    // the LSH index's fingerprint sidecar
    val fpsIdx = tmpDir("fps_swapcrash")
    Dedup.lshBuild(lake, "text", "doc_id", fpsIdx)
    Dedup.lshWriteFingerprints(lake, "text", fpsIdx)
    Dedup.lshAppend(b1, "text", "doc_id", fpsIdx, appendId = Some("d1"))
    def fps: Set[Long] = Dedup.lshFingerprints(spark, fpsIdx)
      .collect().map(_.getLong(0)).toSet
    assert(fps.size == 3, fps.toString)
    crashInSwap(fpsIdx, "fps", lshCounts(fpsIdx))(fps)(Dedup.lshCompact(spark, fpsIdx))
    // the unit store's keys (bucketed: the read goes through the catalog)
    val store = tmpDir("unit_swapcrash")
    UnitStore.build(Seq(1L, 2L, 3L).toDF("h"), "h", store, buckets = 2)
    UnitStore.append(Seq(4L).toDF("h"), "h", store, appendId = Some("d1"))
    def keys: Set[Long] = UnitStore.read(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(keys == Set(1L, 2L, 3L, 4L), keys.toString)
    crashInSwap(store, "keys", Some((UnitStore.committedKeys(spark, store),
      UnitStore.keyCount(spark, store))))(keys)(UnitStore.compact(spark, store))
    // the IVF corpus
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20)
    val ivfIdx = tmpDir("ivf_swapcrash")
    SimilaritySearch.ivfBuild(emb, "embedding", "vec_id", nlist = 4, ivfIdx)
    val q0 = emb.select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    def ivfIds: Seq[Long] = SimilaritySearch.ivfQuery(spark, ivfIdx,
      "embedding", "vec_id", q0, k = 5, nprobe = 4).collect()
      .map(_.getLong(0)).toSeq
    crashInSwap(ivfIdx, "corpus")(ivfIds)(SimilaritySearch.ivfCompact(spark, ivfIdx))
  }

  test("a rebuild with a wrong column fails BEFORE touching the old index: markers and appended rows survive") {
    val idx = tmpDir("lsh_badrebuild")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1"))
    val before = pairs(idx)
    assert(before.toSet.contains((7L, 4L)), before.toString)
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.lshBuild(lake, "no_such_column", "doc_id", idx)
    }
    // the failed rebuild deleted NOTHING: marker intact, appended doc
    // still answers (the old ordering cleared _commits first, silently
    // dropping the append from every later read)
    assert(commitMarkers(idx).map(_.getName).toSeq == Seq("d1"))
    assert(pairs(idx).toSet == before.toSet)
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
    // IVF side: the quantizer sample fails before clearCommits too
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20)
    val ivfIdx = tmpDir("ivf_badrebuild")
    SimilaritySearch.ivfBuild(emb.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", nlist = 4, ivfIdx)
    SimilaritySearch.ivfAppend(emb.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", ivfIdx, appendId = Some("d1"))
    intercept[org.apache.spark.sql.AnalysisException] {
      SimilaritySearch.ivfBuild(emb, "no_such_column", "vec_id", 4, ivfIdx)
    }
    assert(commitMarkers(ivfIdx).map(_.getName).toSeq == Seq("d1"))
  }

  test("catalog registration invalidates on out-of-band schema change — a stale schema cannot drop the attempt column") {
    val idx = tmpDir("lsh_oob")
    Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 2)
    // this query registers the BIGINT ref_id schema in the catalog cache
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L)))
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs(): Unit
      Option(src.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) copyDir(f, new java.io.File(dst, f.getName))
        else java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    def rmDir(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmDir)
      f.delete(): Unit
    }
    // out-of-band: another process rebuilds the index in the current
    // format over STRING ids, and it lands under the SAME location and
    // bucket count — only the ref_id type differs from the cached
    // registration (a rebuild elsewhere leaves this index's entry alone)
    val other = tmpDir("lsh_oob_rebuild")
    Dedup.lshBuild(lake.withColumn("doc_id", concat(lit("lake-"), col("doc_id"))),
      "text", "doc_id", other, bandBuckets = 2)
    for (sub <- Seq("bands", "hashes", "meta")) {
      rmDir(new java.io.File(idx, sub))
      copyDir(new java.io.File(other, sub), new java.io.File(idx, sub))
    }
    // the schema-aware liveness check re-registers and the query answers
    // with the rebuilt ids; the stale BIGINT registration could not read
    // the STRING column at all. The same check keeps a stale schema from
    // ever dropping the attempt column from the scan.
    val got = Dedup.minhashLshIndexPairs(probe, idx, "text", "doc_id",
        threshold = 0.7).select(col("id"), col("ref_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "lake-0"), (3L, "lake-2")), got.toString)
  }

  test("an index in a superseded on-disk layout fails query, append and compact with one named error and writes nothing") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    def rewrite(dir: String, keep: Seq[String]): Unit = {
      val rows = spark.read.parquet(dir).select(keep.map(col): _*).collect()
      val schema = org.apache.spark.sql.types.StructType(
        spark.read.parquet(dir).schema.filter(f => keep.contains(f.name)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(dir)
    }
    def rewriteMeta(idx: String, cols: Seq[String]): Unit = {
      val m = spark.read.parquet(s"$idx/meta").head()
      val df = Seq((m.getAs[Int]("num_perm"), m.getAs[Int]("bands"),
          m.getAs[Int]("shingle_k"), m.getAs[Long]("n_docs"),
          m.getAs[Int]("band_buckets")))
        .toDF("num_perm", "bands", "shingle_k", "n_docs", "band_buckets")
      df.select(cols.map(col): _*).write.mode("overwrite").parquet(s"$idx/meta")
    }
    def snapshot(root: String): Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(root)
      scala.util.Using.resource(java.nio.file.Files.walk(base)) { w =>
        w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => base.relativize(p).toString ->
            java.nio.file.Files.readAllBytes(p).toSeq).toMap
      }
    }
    def refused(idx: String, shape: String)(op: => Any): Unit = {
      val before = snapshot(idx)
      val e = intercept[UnsupportedIndexLayoutException](op)
      assert(e.getMessage.contains(idx) && e.getMessage.contains("rebuild"),
        s"$shape: ${e.getMessage}")
      val after = snapshot(idx)
      assert(after == before, s"$shape: the refused operation changed " +
        s"${(after.keySet ++ before.keySet).filter(k => after.get(k) != before.get(k))}")
    }
    def lshRefused(idx: String, shape: String): Unit = {
      refused(idx, s"$shape query")(pairs(idx))
      refused(idx, s"$shape append")(
        Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1")))
      refused(idx, s"$shape compact")(Dedup.lshCompact(spark, idx))
    }
    // LSH bands and hashes written without the append_attempt tag
    val noAttempt = tmpDir("lsh_noattempt")
    Dedup.lshBuild(lake, "text", "doc_id", noAttempt)
    rewrite(s"$noAttempt/bands", Seq("ref_id", "band", "bucket"))
    rewrite(s"$noAttempt/hashes", Seq("ref_id", "sh"))
    lshRefused(noAttempt, "no append_attempt")
    // 4-column meta (no band_buckets / hash_buckets) and 5-column meta
    // (no hash_buckets) over otherwise current data
    for ((shape, cols) <- Seq(
        "4-col meta" -> Seq("num_perm", "bands", "shingle_k", "n_docs"),
        "5-col meta" -> Seq("num_perm", "bands", "shingle_k", "n_docs", "band_buckets"))) {
      val idx = tmpDir("lsh_oldmeta")
      Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 2)
      rewriteMeta(idx, cols)
      lshRefused(idx, shape)
    }
    // IVF corpus written without the append_attempt tag
    val emb = (0 until 20).map(i => (i.toLong,
        Array.tabulate(8)(j => math.sin(i * 8.0 + j))))
      .toDF("vec_id", "embedding")
    val ivfIdx = tmpDir("ivf_noattempt")
    SimilaritySearch.ivfBuild(emb, "embedding", "vec_id", nlist = 4, ivfIdx)
    val rows = spark.read.parquet(s"$ivfIdx/corpus").drop("append_attempt")
    val tmp = tmpDir("ivf_noattempt_rw")
    rows.write.mode("overwrite").partitionBy("cluster").parquet(tmp)
    def rmDir(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmDir)
      f.delete(): Unit
    }
    rmDir(new java.io.File(ivfIdx, "corpus"))
    assert(new java.io.File(tmp).renameTo(new java.io.File(ivfIdx, "corpus")))
    val q = emb.select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    refused(ivfIdx, "IVF query")(SimilaritySearch.ivfQuery(spark, ivfIdx,
      "embedding", "vec_id", q, k = 5, nprobe = 4))
    refused(ivfIdx, "IVF append")(SimilaritySearch.ivfAppend(emb, "embedding",
      "vec_id", ivfIdx, appendId = Some("d1")))
    refused(ivfIdx, "IVF compact")(SimilaritySearch.ivfCompact(spark, ivfIdx))
    def unitRefused(store: String, shape: String): Unit = {
      refused(store, s"$shape read")(UnitStore.read(spark, store))
      refused(store, s"$shape append")(UnitStore.append(Seq(9L).toDF("h"), "h",
        store, appendId = Some("d1")))
      refused(store, s"$shape compact")(UnitStore.compact(spark, store))
    }
    // unbucketed unit store whose keys lack the append_attempt tag
    val unitNoAttempt = tmpDir("unit_noattempt")
    UnitStore.build(Seq(1L, 2L, 3L).toDF("h"), "h", unitNoAttempt)
    rewrite(s"$unitNoAttempt/keys", Seq("h"))
    unitRefused(unitNoAttempt, "unit store no append_attempt")
    // unit store meta without key_buckets over otherwise current data
    val unitOldMeta = tmpDir("unit_oldmeta")
    UnitStore.build(Seq(1L, 2L, 3L).toDF("h"), "h", unitOldMeta, buckets = 2)
    val nKeys = spark.read.parquet(s"$unitOldMeta/meta").head().getAs[Long]("n_keys")
    Seq(nKeys).toDF("n_keys").write.mode("overwrite").parquet(s"$unitOldMeta/meta")
    unitRefused(unitOldMeta, "unit store meta without key_buckets")
  }

  test("a stored null shingle hash fails the index query loudly (sorted_jaccard64 guard on the storage boundary)") {
    import spark.implicits._
    val idx = tmpDir("lsh_nullguard")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    // corrupt the stored verify hashes out-of-band: one array gains a
    // null element (Spark's file sources read every scan asNullable, so
    // this is exactly the boundary where a null CAN appear — the kernel
    // must throw its named error, never fold the null into a wrong
    // jaccard and silently mis-dedup)
    val rows = spark.read.parquet(s"$idx/hashes").collect()
    val schema = spark.read.parquet(s"$idx/hashes").schema
    val corrupted = rows.zipWithIndex.map { case (r, i) =>
      if (i == 0) org.apache.spark.sql.Row(r.get(0),
        null +: r.getSeq[Any](1).tail, r.get(2))
      else r
    }
    spark.createDataFrame(java.util.Arrays.asList(corrupted: _*), schema)
      .write.mode("overwrite").parquet(s"$idx/hashes")
    val e = intercept[Throwable] { pairs(idx) }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("sorted_jaccard64") && msgs.contains("null element"),
      msgs.take(2000))
  }

  test("IVF append rejects a wrong-dimension batch with a named error; the failed batch stays invisible") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20).cache()
    val idx = tmpDir("ivf_dim")
    SimilaritySearch.ivfBuild(emb.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", nlist = 4, idx)
    val query = emb.select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    def top5: Seq[Long] = SimilaritySearch.ivfQuery(spark, idx, "embedding",
      "vec_id", query, k = 5, nprobe = 4).collect().map(_.getLong(0)).toSeq
    val base = top5
    // a batch whose embeddings carry a different dimension: the old
    // truncated dot product filed it in an arbitrary cell (present in
    // counts, unfindable by probes); now it throws the named error
    val wrongDim = emb.filter(col("vec_id") % 2 === 0)
      .withColumn("embedding", expr("slice(embedding, 1, 7)"))
    val e = intercept[Throwable] {
      SimilaritySearch.ivfAppend(wrongDim, "embedding", "vec_id", idx,
        appendId = Some("d1"))
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("IVF dimension mismatch"), msgs.take(2000))
    // the aborted append never published a marker: the index answers as
    // before, and the SAME appendId retries cleanly with the fixed batch
    assert(commitMarkers(idx).isEmpty)
    assert(top5 == base, "aborted wrong-dim append leaked rows")
    SimilaritySearch.ivfAppend(emb.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", idx, appendId = Some("d1"))
    val exact = SimilaritySearch.bruteForceTopK(emb, "embedding", "vec_id",
      query, 5).collect().map(_.getLong(0)).toSeq
    assert(top5 == exact, s"$top5 vs $exact")
    // a wrong-dimension QUERY vector is rejected driver-side by the same
    // named contract (the old math.min cosine silently prefix-matched)
    val e2 = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfQuery(spark, idx, "embedding", "vec_id",
        query.take(7), k = 5, nprobe = 4)
    }
    assert(e2.getMessage.contains("IVF dimension mismatch"), e2.getMessage)
    emb.unpersist(): Unit
  }

  test("writer lease heartbeats: an op outliving the TTL keeps its lease against a staleness break, and release removes only its own lock") {
    val dir = tmpDir("lease_beat")
    val (fs, root) = IndexLifecycle.fsFor(spark, dir)
    val got = IndexLifecycle.withWriterLock(fs, root, "slow-op", ttlMs = 2000L) {
      // sleep past two TTLs: without the heartbeat the intruder below
      // would judge the lock stale, break it, and run concurrently —
      // the exact two-writers window the lease exists to close
      Thread.sleep(5000L)
      intercept[java.util.ConcurrentModificationException] {
        IndexLifecycle.withWriterLock(fs, root, "intruder", ttlMs = 2000L)(())
      }
      42
    }
    assert(got == 42)
    // clean release: our lock is gone, the root is free for the next op
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_lock")))
    assert(IndexLifecycle.withWriterLock(fs, root, "next", ttlMs = 2000L)(1) == 1)
  }

  test("lease heartbeat refresh is conditional: a broken-and-reacquired lock is never clobbered by the old holder's beat; a stale lease declines to refresh") {
    val dir = tmpDir("lease_refresh")
    val (fs, root) = IndexLifecycle.fsFor(spark, dir)
    val lock = new org.apache.hadoop.fs.Path(root, "_lock")
    def writeLock(owner: String): Unit =
      scala.util.Using.resource(fs.create(lock, true))(
        _.write(owner.getBytes("UTF-8")))
    def holder(): String =
      scala.util.Using.resource(fs.open(lock))(in =>
        scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
    // (a) our own fresh lock: refreshed, mtime advances
    writeLock("me")
    val m0 = fs.getFileStatus(lock).getModificationTime
    Thread.sleep(1100) // local-FS mtime granularity can be a full second
    assert(IndexLifecycle.refreshLease(fs, lock, "me", ttlMs = 60000L))
    assert(fs.getFileStatus(lock).getModificationTime > m0)
    assert(holder() == "me")
    // (b) THE race the conditional refresh closes: a contender broke the
    // lease and re-acquired — the old holder's beat must leave it alone
    writeLock("contender")
    assert(!IndexLifecycle.refreshLease(fs, lock, "me", ttlMs = 60000L))
    assert(holder() == "contender", "old holder's beat clobbered the new lease")
    // (c) our lock but already STALE: decline — a contender may be
    // breaking it right now, and overwriting could resurrect a dead lease
    writeLock("me")
    assert(new java.io.File(dir, "_lock").setLastModified(
      System.currentTimeMillis() - 5000))
    assert(!IndexLifecycle.refreshLease(fs, lock, "me", ttlMs = 1000L))
    // (d) missing lock (released/broken, not yet re-acquired): no create
    fs.delete(lock, false)
    assert(!IndexLifecycle.refreshLease(fs, lock, "me", ttlMs = 60000L))
    assert(!fs.exists(lock), "refresh resurrected a deleted lock")
    // (b) again on the OBJECT STORE the scenario is about: r2:// via the
    // repo's own filesystem, where create(overwrite) is unconditional
    val stub = graft.queries.Connectors.stub
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.r2.impl", "graft.sources.r2.R2FileSystem")
    hc.set("fs.r2.impl.disable.cache", "true")
    hc.set("fs.r2.endpoint", stub.base)
    hc.set("fs.r2.write.enabled", "true")
    val (rfs, rroot) = IndexLifecycle.fsFor(spark, "r2://r2-lake/locks/a")
    val rlock = new org.apache.hadoop.fs.Path(rroot, "_lock")
    try {
      scala.util.Using.resource(rfs.create(rlock, true))(
        _.write("contender".getBytes("UTF-8")))
      assert(!IndexLifecycle.refreshLease(rfs, rlock, "me", ttlMs = 60000L))
      val h = scala.util.Using.resource(rfs.open(rlock))(in =>
        scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      assert(h == "contender", "old holder's beat clobbered the r2 lease")
    } finally rfs.delete(rlock, false): Unit
  }

  test("single-writer lease: a second concurrent writer fails loudly; committed replays pass; a stale lock breaks after TTL") {
    val idx = tmpDir("lsh_lock")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d0"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
    // simulate a live concurrent writer: a fresh _lock file under root
    val lockFile = new java.io.File(idx, "_lock")
    java.nio.file.Files.write(lockFile.toPath,
      "other-writer-host/42".getBytes("UTF-8")): Unit
    val e = intercept[java.util.ConcurrentModificationException] {
      Dedup.lshAppend(
        Seq((6L, "yet another unrelated document about benchmark artifacts and pass medians"))
          .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("d1"))
    }
    assert(e.getMessage.contains("locked by another writer") &&
      e.getMessage.contains("other-writer-host/42"), e.getMessage)
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L, "refused append wrote rows")
    intercept[java.util.ConcurrentModificationException] {
      Dedup.lshCompact(spark, idx)
    }
    // a replay of an ALREADY-COMMITTED appendId no-ops BEFORE the lock —
    // a restarted at-least-once driver is never refused for finished work
    Dedup.lshAppend(b1.withColumn("doc_id", lit(99L)), "text", "doc_id", idx,
      appendId = Some("d0"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
    // the stale-lock path: a lock older than the TTL is broken once
    assert(lockFile.setLastModified(
      System.currentTimeMillis() - graft.operators.IndexLifecycle.DefaultLockTtlMs - 60000))
    Dedup.lshAppend(
      Seq((6L, "yet another unrelated document about benchmark artifacts and pass medians"))
        .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("d1"))
    assert(Dedup.lshIndexDocCount(spark, idx) == 4L)
    assert(!lockFile.exists(), "append did not release the lease")
    // the session-conf TTL override
    spark.conf.set("spark.graft.index.lock.ttl.ms", "50")
    try {
      java.nio.file.Files.write(lockFile.toPath, "gone-writer".getBytes("UTF-8")): Unit
      Thread.sleep(200)
      Dedup.lshCompact(spark, idx) // 200ms-old lock > 50ms ttl → broken
      assert(Dedup.lshIndexDocCount(spark, idx) == 4L)
    } finally spark.conf.unset("spark.graft.index.lock.ttl.ms")
    // IVF writers honor the same lease
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(10)
    val ivfIdx = tmpDir("ivf_lock")
    SimilaritySearch.ivfBuild(emb, "embedding", "vec_id", nlist = 2, ivfIdx)
    java.nio.file.Files.write(new java.io.File(ivfIdx, "_lock").toPath,
      "other".getBytes("UTF-8")): Unit
    intercept[java.util.ConcurrentModificationException] {
      SimilaritySearch.ivfAppend(emb, "embedding", "vec_id", ivfIdx,
        appendId = Some("x1"))
    }
    intercept[java.util.ConcurrentModificationException] {
      SimilaritySearch.ivfCompact(spark, ivfIdx)
    }
  }

  test("full lifecycle on the r2:// object store: build, query, crash-invisible append, retry, compact — copy-backed rename measured, not assumed") {
    // The repo's own S3-style Hadoop filesystem, write mode opted in:
    // rename here is CopyObject+DELETE per object (NON-atomic for
    // directories) — running the whole cycle against it measures the
    // protocol's object-store caveat instead of narrating it. The
    // commit MARKER stays safe because its publish is one single-object
    // copy (atomic under S3 PUT semantics).
    val stub = graft.queries.Connectors.stub
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.r2.impl", "graft.sources.r2.R2FileSystem")
    hc.set("fs.r2.impl.disable.cache", "true")
    hc.set("fs.r2.endpoint", stub.base)
    hc.set("fs.r2.write.enabled", "true")
    val idx = "r2://r2-lake/idx/lsh1"
    val hfs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    try {
      Dedup.lshBuild(lake, "text", "doc_id", idx)
      assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L)))
      assert(Dedup.lshIndexDocCount(spark, idx) == 2L)
      // crash simulation: committed append, marker then removed via the
      // object API — the batch must read as never-appended
      Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
      val marker = new org.apache.hadoop.fs.Path(idx, "_commits/day1")
      assert(hfs.exists(marker))
      assert(hfs.delete(marker, false))
      assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L)),
        "uncommitted append leaked on the object store")
      assert(Dedup.lshIndexCommittedDocs(spark, idx) == 2L &&
        Dedup.lshIndexDocCount(spark, idx) == 2L)
      // the retry completes it exactly once; a re-retry no-ops
      Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
      Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("day1"))
      val after = pairs(idx)
      assert(after.toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)) &&
        after.count(_ == (7L, 4L)) == 1, after.toString)
      // the removed marker took its count with it: the committed count
      // equals the exact recount with no compact in between
      assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
      assert(Dedup.lshIndexCommittedDocs(spark, idx) == 3L)
      // compact: the directory swap is copy-backed here — results must
      // be identical, markers folded to tombstones that keep their
      // counts, swap dirs gone
      Dedup.lshCompact(spark, idx)
      assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L), (7L, 4L)))
      assert(Dedup.lshIndexDocCount(spark, idx) == 3L)
      assert(Dedup.lshIndexCommittedDocs(spark, idx) == 3L)
      assert(!hfs.exists(new org.apache.hadoop.fs.Path(idx, "bands.compact")) &&
        !hfs.exists(new org.apache.hadoop.fs.Path(idx, "bands.old")))
      assert(tombstones(idx) == Map("day1" -> true), tombstones(idx).toString)
      // folded id still no-ops; the lifecycle continues post-compact
      Dedup.lshAppend(b1.withColumn("doc_id", lit(777L)), "text", "doc_id",
        idx, appendId = Some("day1"))
      assert(Dedup.lshIndexCommittedDocs(spark, idx) == 3L)
      Dedup.lshAppend(
        Seq((6L, "yet another unrelated document about benchmark artifacts and pass medians"))
          .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("day2"))
      assert(Dedup.lshIndexDocCount(spark, idx) == 4L)
      // the writer lease works over the object API too (modification
      // times come from the listing): a fresh foreign lock refuses
      scala.util.Using.resource(hfs.create(
        new org.apache.hadoop.fs.Path(idx, "_lock"), true))(
        _.write("other".getBytes("UTF-8")))
      intercept[java.util.ConcurrentModificationException] {
        Dedup.lshCompact(spark, idx)
      }
      assert(hfs.delete(new org.apache.hadoop.fs.Path(idx, "_lock"), false))
    } finally {
      hc.set("fs.r2.write.enabled", "false")
      stub.objects.keys.filter(_.startsWith("idx/"))
        .foreach { k => stub.objects.remove(k); stub.objectTimes.remove(k) }
    }
  }

  test("bucketed-index registration is cached: repeated queries reuse one catalog entry; concurrent sessions don't race") {
    val idx = tmpDir("lsh_reg")
    Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 2)
    val qualified = {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
    }
    val name = "graft_lsh_bands_" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(qualified))
    def createTime: Long = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name)).createTime
    assert(pairs(idx).nonEmpty)
    val t0 = createTime
    assert(pairs(idx).nonEmpty); assert(pairs(idx).nonEmpty)
    assert(createTime == t0,
      "repeated queries re-registered the band table (DROP+CREATE churn)")
    // two concurrent sessions over one index: the synchronized
    // check-then-create must never let one session's registration DROP
    // out from under the other's scan planning
    val probeDir = tmpDir("lsh_reg_probe")
    probe.write.mode("overwrite").parquet(probeDir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          val s = spark.newSession()
          val df = s.read.parquet(probeDir)
          (1 to 3).foreach { _ =>
            val got = Dedup.minhashLshIndexPairs(df, idx, "text", "doc_id",
                threshold = 0.7)
              .select(col("id"), col("ref_id")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            assert(got == Set((1L, 0L), (3L, 2L)), got.toString)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent index queries failed: ${errors.peek()}")
    // rebuild with a DIFFERENT bucket count invalidates and re-registers
    Dedup.lshBuild(lake, "text", "doc_id", idx, bandBuckets = 4)
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L)))
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
      .bucketSpec.exists(_.numBuckets == 4))
  }

  test("a meta write that fails part-way leaves the previous meta readable; the newest complete meta file wins") {
    import org.apache.hadoop.fs.Path
    FailingMetaFs.register(spark)
    val dir = tmpDir("meta_crash")
    val root = new Path(s"failmeta://$dir")
    def nKeys(): Long = IndexLifecycle.readMeta(spark, root, "n_keys").getAs[Long]("n_keys")
    IndexLifecycle.writeMeta(spark, root, "n_keys" -> 3L, "key_buckets" -> 2)
    // the crash inside the overwrite: the row's file cannot be created
    intercept[Exception](FailingMetaFs.failing("meta")(
      IndexLifecycle.writeMeta(spark, root, "n_keys" -> 5L, "key_buckets" -> 2)))
    assert(nKeys() == 3L, "the failed write lost the previous meta")
    IndexLifecycle.writeMeta(spark, root, "n_keys" -> 5L, "key_buckets" -> 2)
    assert(nKeys() == 5L)
    val metaDir = new java.io.File(dir, "meta")
    def dataFiles: Seq[java.io.File] =
      metaDir.listFiles().toSeq.filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    assert(dataFiles.size == 1, dataFiles.toString)
    // the window between the rename and the delete: an older file still
    // beside the new one is never read
    val older = dataFiles.head
    val kept = java.nio.file.Files.readAllBytes(older.toPath)
    IndexLifecycle.writeMeta(spark, root, "n_keys" -> 7L, "key_buckets" -> 2)
    java.nio.file.Files.write(older.toPath, kept)
    assert(dataFiles.size == 2 && nKeys() == 7L, dataFiles.toString)
    // the footer keeps the schema a Spark write gives it: required
    // INT64/INT32 columns and the non-null row schema under Spark's key
    val footer = scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(dataFiles.maxBy(_.getName).toURI), spark.sessionState.newHadoopConf())))(
      _.getFooter.getFileMetaData)
    assert(footer.getSchema.toString.replaceAll("\\s+", " ").trim ==
      "message spark_schema { required int64 n_keys; required int32 key_buckets; }",
      footer.getSchema.toString)
    assert(org.apache.spark.sql.types.DataType.fromJson(
      footer.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")) ==
      org.apache.spark.sql.types.StructType.fromDDL("n_keys BIGINT NOT NULL, key_buckets INT NOT NULL"))
  }

  /** A fresh LSH index and bucketed unit store on the `failmeta:`
    * filesystem, and a check that each one's committed count equals its
    * scan count.
    */
  private def failmetaStores(tag: String): (String, String, () => Unit) = {
    FailingMetaFs.register(spark)
    val idx = "failmeta://" + tmpDir(s"${tag}_idx")
    val store = "failmeta://" + tmpDir(s"${tag}_store")
    Dedup.lshBuild(lake, "text", "doc_id", idx)
    UnitStore.build(Seq(1L, 2L, 3L).toDF("h"), "h", store, buckets = 2)
    (idx, store, () => {
      assert(Dedup.lshIndexCommittedDocs(spark, idx) == Dedup.lshIndexDocCount(spark, idx))
      assert(UnitStore.committedKeys(spark, store) == UnitStore.keyCount(spark, store))
    })
  }

  test("appends and compacts write nothing under meta/: with every meta write failing they complete, and the committed counts equal the scans") {
    val (idx, store, exact) = failmetaStores("meta_ro")
    FailingMetaFs.failing("meta") {
      Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1"))
      exact()
      UnitStore.append(Seq(4L, 5L).toDF("h"), "h", store, appendId = Some("d1"))
      exact()
      Dedup.lshCompact(spark, idx)
      exact()
      UnitStore.compact(spark, store)
      exact()
    }
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 3L)
    assert(UnitStore.committedKeys(spark, store) == 5L)
  }

  test("a failed marker write leaves the batch invisible and the counts unchanged; a compact cut short between two tombstones keeps them exact") {
    val (idx, store, exact) = failmetaStores("marker_crash")
    def keys: Set[Long] = UnitStore.read(spark, store).collect().map(_.getLong(0)).toSet
    intercept[java.io.IOException](FailingMetaFs.failing("_commits")(
      Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1"))))
    intercept[java.io.IOException](FailingMetaFs.failing("_commits")(
      UnitStore.append(Seq(4L, 5L).toDF("h"), "h", store, appendId = Some("d1"))))
    assert(pairs(idx).toSet == Set((1L, 0L), (3L, 2L)), "the failed append leaked")
    assert(keys == Set(1L, 2L, 3L), "the failed append leaked")
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 2L)
    assert(UnitStore.committedKeys(spark, store) == 3L)
    exact()
    // the retries commit; a second batch gives each store two markers
    Dedup.lshAppend(b1, "text", "doc_id", idx, appendId = Some("d1"))
    Dedup.lshAppend(
      Seq((6L, "yet another unrelated document about benchmark artifacts and pass medians"))
        .toDF("doc_id", "text"), "text", "doc_id", idx, appendId = Some("d2"))
    UnitStore.append(Seq(4L, 5L).toDF("h"), "h", store, appendId = Some("d1"))
    UnitStore.append(Seq(6L).toDF("h"), "h", store, appendId = Some("d2"))
    exact()
    // a marker write is three mutating calls (mkdirs, create, rename):
    // the compact folds one marker to a tombstone and dies on the next
    Seq[String => Unit](Dedup.lshCompact(spark, _), UnitStore.compact(spark, _))
      .zip(Seq(idx, store)).foreach { case (compact, path) =>
        intercept[java.io.IOException](FailingMetaFs.failing("_commits", after = 3)(compact(path)))
        assert(tombstones(path).values.toSeq.sorted == Seq(false, true), tombstones(path).toString)
        exact()
        compact(path)
        assert(tombstones(path) == Map("d1" -> true, "d2" -> true), tombstones(path).toString)
        exact()
      }
    assert(Dedup.lshIndexCommittedDocs(spark, idx) == 4L)
    assert(UnitStore.committedKeys(spark, store) == 6L)
    assert(keys == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }
}
