package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftColumnShim, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Curate, Dedup, IndexLifecycle, ParagraphDedup, ShardWriter, UnitStore}

/** Streaming document curation — the ingestion-time shape of the batch
  * curation operators: documents arrive as files (the streaming file
  * source), each micro-batch is planted/redacted/sampled by the SAME
  * Column expressions and operators the batch gates use (stateless
  * map/filter — no watermark or state store needed), and a
  * complete-mode aggregation summarizes the retained corpus.
  *
  * At scale this is the kappa-style curation front door: the map stage
  * is embarrassingly parallel per file split, the only stateful node is
  * the final aggregation (tiny — one row per language), and the exact
  * same expressions serve the backfill batch job, so batch and stream
  * can never drift.
  *
  * THE INGEST LOOPS. The five file-fed ingest loops run one
  * per-micro-batch body (`ingestLoop`) made of optional stages:
  *  1. ACCEPT: near-dup against the persisted LSH index
  *     ([[graft.operators.Dedup.dedupAgainstIndex]]), optionally behind
  *     the stored-fingerprint exact stage
  *     ([[graft.operators.Dedup.dedupAgainstIndexFingerprinted]]),
  *     snapshotted as the batch's accepted docs;
  *  2. INDEX: the accepted docs (and their fingerprints, when the index
  *     has the sidecar) append back with [[graft.operators.Dedup.lshAppend]];
  *  3. STORE: the paragraph keep-first rewrite of the accepted docs
  *     against the seen-unit store, landed as a per-batch overwrite
  *     under `outDir/batch_id=<id>`;
  *  4. UNITS: the batch's novel unit keys appended with
  *     [[graft.operators.UnitStore.append]];
  *  5. a TAIL on the accepted docs (the shard loop's curation), after
  *     the store stage's cleaned write when the loop has one.
  * `foreachBatch` is the required shape: the stages run eager jobs and
  * mutate external state, both of which the declarative streaming
  * surface forbids. Per micro-batch the work is batch-proportional —
  * the lake's text never enters the stream; the stores MUTATE, so
  * callers own their lifecycle.
  *
  * THE STAGE DAG. Only one chain in a batch depends on the step before
  * it, so the independent stages run concurrently, each branch on a
  * fresh thread that inherits the stream thread's Spark local
  * properties (batch id, job group, SQL execution id):
  * {{{
  *   accept ─┬─ index
  *           └─ store rewrite ─┬─ units
  *                             └─ cleaned write ─ tail
  * }}}
  * The index append reads only the accepted snapshot; the rewrite reads
  * it and the unit store; the units append reads only the rewrite's
  * novel keys; the tail reads the landed cleaned files and the accepted
  * snapshot. The two appends go to different roots, each under its own
  * writer lease. The Spark local property `graft.ingest.stage` names the
  * stage (`accept`, `index`, `store`, `units`, `tail`, `compact`) of
  * every job a batch runs.
  *
  * FAILURE CONTRACT. The body waits for every branch before it releases
  * a snapshot or compacts: a failing branch never cuts another short,
  * and the batch fails with the first failure (the others attached as
  * suppressed) only after every branch has returned, so no branch of a
  * failed batch is still writing when the stream stops or replays it.
  *
  * REPLAY CONTRACT. `foreachBatch` is at-least-once: a failed
  * micro-batch re-runs with the SAME batch id. Every append is keyed on
  * it (`"<queryName>-b<batchId>"`), so a replay whose append already
  * committed no-ops on its marker, and a crash mid-append leaves the
  * uncommitted attempt invisible. Every index and store read EXCLUDES
  * the batch's own appendId, and the snapshots' file lists are fixed
  * when their plans run, so a replay recomputes the same accept set and
  * byte-identical rewrite output even after some of its appends
  * committed — whichever branch failed — and the output dirs are
  * per-batch overwrites. There is deliberately no cross-store atomic
  * commit: determinism, not atomicity, makes the interleaving safe.
  * Pass `checkpointLocation` so a restarted stream resumes from the
  * last committed micro-batch; a drained, checkpointed re-run over the
  * same input processes nothing (spec-pinned).
  * Summaries come from the stores' committed counts (the build's count
  * in meta plus the counts the commit markers record, so a replay never
  * double-counts) and from the landed files read back.
  *
  * COMPACTION. `compactEvery = Some(n)` compacts each store the loop has
  * after the batch's appends whenever `(batchId + 1) % n == 0` — the
  * answer to append-file accumulation (one file per bucket per append).
  * Safe inside `foreachBatch`: the loop is its stores' single writer. A
  * loop with a store stage keeps the batch's own appendId UNFOLDED: the
  * batch is not yet committed in the checkpoint, and its replay must
  * still be able to exclude its rows. An append-only loop keeps nothing
  * — its replay needs only the marker, which folds to an idempotency
  * tombstone. Compaction preserves the visible row set, so results are
  * unchanged (spec-pinned).
  */
object DocsStream {

  /** Stream-static anti-join dedup: streaming documents are dropped when
    * their normalized fingerprint already exists in a static reference
    * corpus — the "don't re-ingest what the lake already holds" front
    * door. Stateless: the static side is a plain DataFrame joined anew
    * each micro-batch (broadcast when small, shuffled when not), so
    * unlike watermark dedup there is NO state store to size — the
    * reference set's footprint is the join's, and at 100 TB the static
    * side is the deduped corpus's (fp → ()) projection, not its text.
    * Duplicates WITHIN the stream are untouched (compose with
    * `dropDuplicatesWithinWatermark` for that half).
    */
  def runStaticDedupAsStream(spark: SparkSession, inputDir: String,
                             staticCorpus: org.apache.spark.sql.DataFrame,
                             queryName: String): DataFrame = {
    val known = staticCorpus
      .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
    val fresh = Streams.fileSource(spark, inputDir)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .join(known, Seq("fp"), "left_anti")
    val agg = fresh.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    Streams.drainToMemory(agg, queryName, "complete")
  }

  /** The DAILY-INGEST LOOP as a stream: the index stage alone — each
    * micro-batch is deduped against the PERSISTED LSH index and its
    * accepted rows append back, so a doc in a LATER micro-batch that
    * near-duplicates an EARLIER accepted doc is dropped too. Replay,
    * checkpoint and compaction as in the object doc. `maxFilesPerTrigger`
    * splits the input into multiple micro-batches. Returns one row after
    * the stream drains: `(n_kept, n_index_docs)`, from the index's
    * committed count before and after.
    */
  def runIndexDedupLoopAsStream(spark: SparkSession, inputDir: String,
                                indexPath: String, queryName: String,
                                maxFilesPerTrigger: Option[Int] = None,
                                checkpointLocation: Option[String] = None,
                                compactEvery: Option[Int] = None): DataFrame =
    indexLoop(spark, inputDir, IndexStage(indexPath), queryName,
      maxFilesPerTrigger, checkpointLocation, compactEvery)

  /** The daily-ingest loop on the HASH-AT-INGEST layout — the
    * [[runIndexDedupLoopAsStream]] pipeline with an EXACT stage in front
    * of the LSH stage: the input carries a STORED fingerprint column
    * (`fpCol = xxhash64(text)`, stamped when the row was written), and
    * each micro-batch drops its within-batch exact dups (min-id keeper)
    * and byte-identical re-arrivals of indexed docs (anti join against
    * the index's fingerprint sidecar) on that 8-byte column before any
    * text is signed; the accepted docs and their fingerprints append
    * under one commit marker, so the sidecar never drifts from the
    * index. At 100 TB recrawls are dominated by byte-identical fetches,
    * and this loop prices them at one narrow-key anti join instead of a
    * MinHash signature pass. Same summary row as
    * [[runIndexDedupLoopAsStream]].
    */
  def runFingerprintIngestLoopAsStream(spark: SparkSession, inputDir: String,
                                       indexPath: String, queryName: String,
                                       fpCol: String = "fp",
                                       maxFilesPerTrigger: Option[Int] = None,
                                       checkpointLocation: Option[String] = None,
                                       compactEvery: Option[Int] = None): DataFrame =
    indexLoop(spark, inputDir, IndexStage(indexPath, Some(fpCol)), queryName,
      maxFilesPerTrigger, checkpointLocation, compactEvery)

  /** PARAGRAPH-DEDUP INGEST LOOP: the CCNet/Dolma boilerplate pass
    * ([[graft.operators.ParagraphDedup]]) as a standing stream against a
    * GROWING seen-unit store ([[graft.operators.UnitStore]]) — the store
    * stage alone. Each micro-batch is rewritten keep-first (a unit
    * occurrence survives iff its key is not in the store and it is the
    * batch's first occurrence), the cleaned docs land under
    * `outDir/batch_id=<id>`, and the novel unit keys append to the store.
    * Per micro-batch the wide work is one membership join of the batch's
    * 8-byte unit keys against the (bucketed) store.
    *
    * Returns one summary row after the stream drains:
    * `(n_docs, n_units, n_dropped, sum_clean_chars, n_store_keys)` —
    * the first four aggregated from the cleaned output read back off
    * disk (gating the file-commit path), the store's committed count.
    */
  def runParagraphDedupLoopAsStream(spark: SparkSession, inputDir: String,
                                    storePath: String, outDir: String,
                                    queryName: String,
                                    unitize: Column => Column,
                                    joinSep: String,
                                    idCol: String = "doc_id",
                                    textCol: String = "text",
                                    maxFilesPerTrigger: Option[Int] = None,
                                    checkpointLocation: Option[String] = None,
                                    compactEvery: Option[Int] = None): DataFrame = {
    ingestLoop(spark, inputDir, queryName, idCol, textCol, None,
      Some(StoreStage(storePath, outDir, unitize, joinSep)),
      maxFilesPerTrigger, checkpointLocation, compactEvery)
    val nKeys = UnitStore.committedKeys(spark, storePath)
    spark.read.parquet(outDir)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_units")).cast("long").as("n_units"),
        sum(col("n_dropped")).cast("long").as("n_dropped"),
        sum(length(col("clean_text"))).cast("long").as("sum_clean_chars"))
      .withColumn("n_store_keys", lit(nKeys))
  }

  /** THE COMPLETE CRAWL-TO-TRAINING INGEST PIPELINE as one standing
    * stream — the three dedup stages this library ships, in the order a
    * CCNet-style production pipeline runs them: EXACT (stored
    * fingerprint vs the index's sidecar) → NEAR-DUP (MinHash-LSH vs the
    * index) → BOILERPLATE (paragraph keep-first vs the seen-unit store,
    * on the accepted docs), i.e. the index stage with fingerprint and
    * the store stage.
    *
    * Dedup before rewrite, not after: near-dup identity should be judged
    * on the document as fetched (the index stores original text, so
    * tomorrow's refetch compares against like form), while the unit
    * store tracks the CLEANED corpus — a unit becomes "seen" only when
    * a doc carrying it was actually accepted into the lake.
    *
    * Returns one row after the stream drains:
    * `(n_kept, n_index_docs, n_units, n_dropped_units, sum_clean_chars,
    * n_store_keys)` — index and store figures from their committed counts,
    * rewrite figures read back off the cleaned output files.
    */
  def runIngestPipelineAsStream(spark: SparkSession, inputDir: String,
                                indexPath: String, storePath: String,
                                outDir: String, queryName: String,
                                unitize: Column => Column,
                                joinSep: String,
                                fpCol: String = "fp",
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                maxFilesPerTrigger: Option[Int] = None,
                                checkpointLocation: Option[String] = None,
                                compactEvery: Option[Int] = None): DataFrame = {
    ingestLoop(spark, inputDir, queryName, idCol, textCol,
      Some(IndexStage(indexPath, Some(fpCol))),
      Some(StoreStage(storePath, outDir, unitize, joinSep)),
      maxFilesPerTrigger, checkpointLocation, compactEvery)
    val n1 = Dedup.lshIndexCommittedDocs(spark, indexPath)
    val nKeys = UnitStore.committedKeys(spark, storePath)
    spark.read.parquet(outDir)
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_units")).cast("long").as("n_units"),
        sum(col("n_dropped")).cast("long").as("n_dropped_units"),
        sum(length(col("clean_text"))).cast("long").as("sum_clean_chars"))
      .withColumn("n_index_docs", lit(n1))
      .withColumn("n_store_keys", lit(nKeys))
      .select(col("n_kept"), col("n_index_docs"), col("n_units"),
        col("n_dropped_units"), col("sum_clean_chars"), col("n_store_keys"))
  }

  /** THE FULL CRAWL-TO-TRAINING PIPELINE, dedup THROUGH TRAINING SHARDS —
    * [[runIngestPipelineAsStream]]'s stages plus the per-batch CURATION
    * TAIL a production pipeline runs on the cleaned docs before they
    * become training data: the assembled [[graft.operators.Curate]]
    * chain (exact dedup on the cleaned text → benchmark decontamination
    * → quality floor → deterministic sample → per-source mixing →
    * per-language sequence packing), landed as sorted,
    * language-partitioned shards ([[graft.operators.ShardWriter]]) under
    * `shardsDir/batch_id=<id>`. The cleaned docs still land under
    * `outDir/batch_id=<id>` (the lake product); the shards are the
    * training-ready tail.
    *
    * The tail consumes the REWRITTEN text (quality/packing should judge
    * the text a training run would see, boilerplate already gone) joined
    * back to the batch's lang/source attributes; the benchmark side is a
    * STATIC frame broadcast per batch (eval suites are KBs — the corpus
    * side never shuffles for it). The replay contract extends through
    * the tail for free: every [[graft.operators.Curate]] stage is a pure
    * function of its input (hash coins, stable tie-breaks; pack bins are
    * computed within the batch, not against a store), and the shards
    * are a per-batch overwrite.
    *
    * Returns one summary row set after the stream drains, aggregated
    * from the SHARD FILES read back off disk (gating the file-commit
    * path, the qs06 precedent): `(langCol, bin, n_docs, sum_tokens)`.
    */
  def runIngestPipelineToShardsAsStream(spark: SparkSession, inputDir: String,
                                        indexPath: String, storePath: String,
                                        outDir: String, shardsDir: String,
                                        queryName: String,
                                        unitize: Column => Column,
                                        joinSep: String,
                                        benchmark: org.apache.spark.sql.DataFrame,
                                        minWords: Int, minUniqRatio: Double,
                                        sampleNumerator: Int,
                                        weights: Map[String, Double],
                                        packBudget: Long,
                                        fpCol: String = "fp",
                                        idCol: String = "doc_id",
                                        textCol: String = "text",
                                        langCol: String = "lang",
                                        sourceCol: String = "source",
                                        maxFilesPerTrigger: Option[Int] = None,
                                        checkpointLocation: Option[String] = None,
                                        compactEvery: Option[Int] = None): DataFrame = {
    // the decontamination reference, renamed to the tail's text column
    // once at plan time (Curate passes one textCol name to both sides)
    val bench = benchmark.select(col(textCol).as("clean_text"))
    ingestLoop(spark, inputDir, queryName, idCol, textCol,
      Some(IndexStage(indexPath, Some(fpCol))),
      Some(StoreStage(storePath, outDir, unitize, joinSep)),
      maxFilesPerTrigger, checkpointLocation, compactEvery,
      tailCols = Seq(langCol, sourceCol), tail = Some { (accepted, batchId) =>
      // the curation tail on the cleaned text, batch-proportional: read
      // the rewrite BACK off the batch's just-landed files (already
      // materialized — re-consuming the rewrite would run its join
      // twice); attributes join back from the accepted snapshot
      val curInput = IndexLifecycle.readDir(spark, s"$outDir/batch_id=$batchId")
        .join(accepted.select(col(idCol), col(langCol), col(sourceCol)), idCol)
      val curated = Curate.curate(
        curInput, bench, idCol, "clean_text", langCol, sourceCol,
        minWords, minUniqRatio, sampleNumerator, weights, packBudget)
      ShardWriter.writeShards(curated, s"$shardsDir/batch_id=$batchId",
        langCol, Seq("bin", idCol, "replica")): Unit
    })
    spark.read.parquet(shardsDir)
      .groupBy(col(langCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).cast("long").as("sum_tokens"))
  }

  /** STREAMING ANN INGEST: each micro-batch of embeddings is appended to
    * a persisted IVF index ([[graft.operators.SimilaritySearch.ivfAppend]])
    * — the ANN counterpart of [[runIndexDedupLoopAsStream]], riding the
    * same commit-marker protocol: appends are keyed on the micro-batch
    * id, so an at-least-once `foreachBatch` redelivery no-ops instead of
    * duplicating index vectors, and a crash mid-append leaves the
    * uncommitted attempt invisible. The coarse quantizer is frozen at
    * build time (the ivfAppend contract), so every micro-batch is
    * assigned consistently and queries keep pruning identically; cost
    * per micro-batch is batch-proportional (assign + partitioned
    * append) — the indexed lake's vectors never move. Pass
    * `checkpointLocation` so a restarted stream resumes instead of
    * re-reading; a drained, checkpointed re-run leaves the index
    * untouched (spec-pinned).
    */
  def runIvfIngestAsStream(spark: SparkSession, inputDir: String,
                           indexPath: String, queryName: String,
                           maxFilesPerTrigger: Option[Int] = None,
                           checkpointLocation: Option[String] = None): Unit =
    drainForeachBatch(Streams.fileSource(spark, inputDir, maxFilesPerTrigger),
        queryName, checkpointLocation) { (batch, batchId) =>
      graft.operators.SimilaritySearch.ivfAppend(batch, "embedding",
        "vec_id", indexPath, appendId = Some(s"$queryName-b$batchId"))
    }

  /** The index stage: near-dup against the LSH index at `path`, behind
    * the stored-fingerprint exact stage on `fpCol` when set.
    */
  private final case class IndexStage(path: String, fpCol: Option[String] = None)

  /** The store stage: the paragraph rewrite against the unit store at
    * `path`, landed under `outDir/batch_id=<id>`.
    */
  private final case class StoreStage(path: String, outDir: String,
                                      unitize: Column => Column, joinSep: String)

  /** The index-stage-only loop on `(doc_id, text)` input, summarized as
    * `(n_kept, n_index_docs)` from the index's committed count.
    */
  private def indexLoop(spark: SparkSession, inputDir: String, index: IndexStage,
                        queryName: String, maxFilesPerTrigger: Option[Int],
                        checkpointLocation: Option[String],
                        compactEvery: Option[Int]): DataFrame = {
    val n0 = Dedup.lshIndexCommittedDocs(spark, index.path)
    ingestLoop(spark, inputDir, queryName, "doc_id", "text", Some(index), None,
      maxFilesPerTrigger, checkpointLocation, compactEvery)
    import spark.implicits._
    val n1 = Dedup.lshIndexCommittedDocs(spark, index.path)
    Seq((n1 - n0, n1)).toDF("n_kept", "n_index_docs")
  }

  /** The one per-micro-batch ingest body (the stages, their DAG, the
    * replay contract and the compaction rule are in the object doc).
    * Before the stream starts, the input must carry the id and text
    * columns, the fingerprint column of a fingerprint stage and
    * `tailCols`, and a fingerprint stage's index must have its sidecar.
    * `tail` runs with the accepted rows and the batch id, after the
    * store stage's cleaned write when the loop has one.
    */
  private def ingestLoop(spark: SparkSession, inputDir: String, queryName: String,
                         idCol: String, textCol: String,
                         index: Option[IndexStage], store: Option[StoreStage],
                         maxFilesPerTrigger: Option[Int],
                         checkpointLocation: Option[String],
                         compactEvery: Option[Int],
                         tailCols: Seq[String] = Nil,
                         tail: Option[(DataFrame, Long) => Unit] = None): Unit = {
    val fpCol = index.flatMap(_.fpCol)
    val source = Streams.fileSource(spark, inputDir, maxFilesPerTrigger)
    val needed = Seq(idCol, textCol) ++ fpCol ++ tailCols
    needed.foreach(c => require(source.columns.contains(c),
      s"input at $inputDir carries no '$c' column — this loop reads " +
        needed.mkString("(", ", ", ")") + (if (fpCol.contains(c))
          s"; stamp xxhash64($textCol) as '$c' at write time (the " +
            "hash-at-ingest layout), or run runIndexDedupLoopAsStream"
        else "")))
    // fail fast on a missing sidecar (lshFingerprints throws the
    // actionable error) rather than on the first micro-batch
    for (ix <- index; _ <- fpCol) Dedup.lshFingerprints(spark, ix.path): Unit
    drainForeachBatch(source, queryName, checkpointLocation) { (batch, batchId) =>
      val appendId = s"$queryName-b$batchId"
      val own = Seq(appendId)
      def stage[T](name: String)(body: => T): T = tagged(spark, name)(body)
      // the accepted rows are read by the append (band rows + verify
      // hashes), the rewrite and the tail: snapshot them so the index
      // join runs once per batch (a persist() would be dropped by the
      // append's own first write into the index dirs it reads)
      val (accepted, release) = index.fold((batch, () => ())) { ix =>
        stage("accept")(GraftColumnShim.snapshot(fpCol.fold(
          Dedup.dedupAgainstIndex(batch, ix.path, textCol, idCol,
            excludeAppendIds = own))(fp =>
          Dedup.dedupAgainstIndexFingerprinted(batch, ix.path, textCol,
            idCol, fp, excludeAppendIds = own))))
      }
      // the stage DAG (object doc): index beside the store stage, and
      // inside it units beside the cleaned write and the tail
      val tailBranch = tail.map(t => () => stage("tail")(t(accepted, batchId)))
      val indexBranch = index.map(ix => () => stage("index")(
        Dedup.lshAppend(accepted, textCol, idCol, ix.path, appendId = Some(appendId))))
      val storeBranch = store.map(st => () => {
        val a = stage("store")(ParagraphDedup.storeAccept(accepted, idCol, textCol,
          st.unitize, st.joinSep, st.path, excludeAppendIds = own))
        try concurrently(Seq(
          () => stage("units")(
            UnitStore.append(a.novelKeys, "h", st.path, appendId = Some(appendId))),
          () => {
            stage("store")(a.cleaned.write.mode("overwrite")
              .parquet(s"${st.outDir}/batch_id=$batchId"))
            tailBranch.foreach(_())
          }))
        finally a.release()
      })
      try concurrently((indexBranch ++ storeBranch.orElse(tailBranch)).toSeq)
      finally release()
      if (compactEvery.exists(n => (batchId + 1) % n == 0)) stage("compact") {
        val keep = if (store.isDefined) own else Nil
        index.foreach(ix => Dedup.lshCompact(spark, ix.path, keepAppendIds = keep))
        store.foreach(st => UnitStore.compact(spark, st.path, keepAppendIds = keep))
      }
    }
  }

  /** The Spark local property that names the ingest stage a job belongs
    * to: `accept`, `index`, `store`, `units`, `tail` or `compact`.
    */
  private[graft] val StageProperty = "graft.ingest.stage"

  /** Run `body` with [[StageProperty]] set to `name` on this thread. */
  private def tagged[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(StageProperty)
    sc.setLocalProperty(StageProperty, name)
    try body finally sc.setLocalProperty(StageProperty, outer)
  }

  /** Run `branches` concurrently and return once every one has returned.
    * Each branch runs on a fresh thread started here, so it inherits this
    * thread's Spark local properties (the micro-batch id, the job group
    * that stopping the query cancels, the SQL execution id, the stage
    * tag) and active session; a pooled thread would carry whatever its
    * previous task left. A single branch runs inline. The first failure
    * is rethrown, the others attached as suppressed, only after every
    * branch has returned.
    */
  private def concurrently(branches: Seq[() => Unit]): Unit = branches match {
    case Seq(only) => only()
    case _ =>
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = branches.map { b =>
        val t = new Thread(() => try b() catch { case e: Throwable => failures.add(e): Unit },
          "graft-ingest-branch")
        t.setDaemon(true)
        t.start()
        t
      }
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive)
          try t.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      Option(failures.poll()).foreach { first =>
        failures.forEach(first.addSuppressed(_))
        throw first
      }
  }

  /** The one `foreachBatch` drain behind the file-fed loops: `body` runs
    * on each micro-batch of `source` with its id, checkpointed under
    * `checkpointLocation` when set.
    */
  private def drainForeachBatch(source: DataFrame, queryName: String,
                                checkpointLocation: Option[String])(
                                 body: (DataFrame, Long) => Unit): Unit = {
    val writer = source.writeStream.queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), batchId)
      }
    Streams.drain(checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c)))
  }
}
