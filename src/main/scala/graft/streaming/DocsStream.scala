package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnShim, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

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
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    val known = staticCorpus
      .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
    val fresh = stream
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .join(known, Seq("fp"), "left_anti")
    val agg = fresh.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** The DAILY-INGEST LOOP as a stream: each micro-batch is deduped
    * against the PERSISTED LSH index ([[graft.operators.Dedup.dedupAgainstIndex]])
    * and the ACCEPTED rows are appended back to the index
    * ([[graft.operators.Dedup.lshAppend]]) — so a doc in a LATER
    * micro-batch that near-duplicates an EARLIER accepted doc is dropped
    * too, and the lake's text never enters the stream (the index carries
    * its band rows and verify hashes). `foreachBatch` is the required
    * shape: the index operators run eager jobs (the batch-size probe)
    * and mutate external state (the index files), both of which the
    * declarative streaming surface forbids — the documented Structured
    * Streaming pattern for external-state sinks. Per micro-batch the
    * work is batch-proportional (sign the batch, join the stored index,
    * append the survivors), which is exactly the property `lshAppend`
    * exists to provide; the index MUTATES, so callers own its lifecycle
    * (point this at a copy if the base index must survive).
    *
    * RETRY SAFETY. `foreachBatch` is at-least-once: on failure a
    * micro-batch re-runs with the SAME batch id. The append is keyed on
    * that id (`"<queryName>-b<batchId>"`), so a retry of a batch whose
    * append already committed is a no-op instead of duplicating index
    * rows, and a crash mid-append leaves the uncommitted attempt
    * invisible (the retry redoes it) — the [[graft.operators.Dedup.lshAppend]]
    * commit-marker contract. Pass `checkpointLocation` so a RESTARTED
    * stream resumes from the last committed micro-batch instead of
    * re-reading the input from scratch; re-running a fully drained,
    * checkpointed loop over the same input processes nothing and leaves
    * the index untouched (spec-pinned). The returned `n_kept` is derived
    * from the index itself (committed docs after minus before), so
    * retries can never double-count it; the brackets read the meta
    * tally — two one-row reads — NOT a count over the index's data,
    * which at a 10⁹-doc lake would have dominated every run.
    *
    * `compactEvery = Some(n)` runs [[graft.operators.Dedup.lshCompact]]
    * after every n-th micro-batch's append — the standing loop's answer
    * to append-file accumulation (one file per bucket per append; a
    * year of daily ingest would otherwise scan 365 files/bucket —
    * Probe q96compact measures the cost). Safe inside `foreachBatch`:
    * the loop is the index's single writer and sole reader between
    * triggers, which is exactly compaction's documented requirement.
    * Compaction preserves the visible row set, so results are unchanged
    * (spec-pinned); a compact after a retried (no-op) append is itself
    * a no-op rewrite.
    *
    * `maxFilesPerTrigger` splits the input into multiple micro-batches
    * (specs use it to prove the loop property); the default drains
    * everything available per trigger. Returns one row after the stream
    * drains: (n_kept, n_index_docs).
    */
  def runIndexDedupLoopAsStream(spark: SparkSession, inputDir: String,
                                indexPath: String, queryName: String,
                                maxFilesPerTrigger: Option[Int] = None,
                                checkpointLocation: Option[String] = None,
                                compactEvery: Option[Int] = None): DataFrame = {
    val n0 = graft.operators.Dedup.lshIndexCommittedDocs(spark, indexPath)
    drainForeachBatch(spark, inputDir, queryName, maxFilesPerTrigger,
        checkpointLocation) { (batch, batchId) =>
      // accepted is read twice by the append (band rows + verify
      // hashes): snapshot the micro-batch-sized frame so the index join
      // runs once per batch (a persist() would be dropped by the
      // append's own first write into the index dirs it reads)
      val (accepted, release) = GraftColumnShim.snapshot(
        graft.operators.Dedup
          .dedupAgainstIndex(batch, indexPath, "text", "doc_id"))
      try graft.operators.Dedup.lshAppend(accepted, "text", "doc_id", indexPath,
        appendId = Some(s"$queryName-b$batchId"))
      finally release()
      compactEvery.foreach { n =>
        if ((batchId + 1) % n == 0)
          graft.operators.Dedup.lshCompact(spark, indexPath)
      }
    }
    import spark.implicits._
    val n1 = graft.operators.Dedup.lshIndexCommittedDocs(spark, indexPath)
    Seq((n1 - n0, n1)).toDF("n_kept", "n_index_docs")
  }

  /** The daily-ingest loop on the HASH-AT-INGEST layout — the
    * [[runIndexDedupLoopAsStream]] pipeline with an EXACT stage in front
    * of the LSH stage, completing the `exactGroupsFingerprint`
    * deployment story end to end: the input stream carries a STORED
    * fingerprint column (`fpCol = xxhash64(text)`, stamped when the row
    * was written), and each micro-batch
    *
    *  1. exact-dedups WITHIN itself on the stored fingerprint —
    *     [[graft.operators.Dedup.exactGroupsFingerprint]] finds the dup
    *     groups, the min-id keeper survives; no text is hashed or
    *     decoded, the 8-byte column decides;
    *  2. anti-joins the survivors' fingerprints against the index's
    *     fingerprint SIDECAR ([[graft.operators.Dedup.lshWriteFingerprints]])
    *     — byte-identical re-arrivals of lake docs drop here for the
    *     price of an 8-byte-key join (bucketed sidecar: no lake-side
    *     exchange), never reaching the signature UDF;
    *  3. runs the LSH stage ([[graft.operators.Dedup.dedupAgainstIndex]])
    *     on what remains and appends the accepted docs AND their
    *     fingerprints back — both under ONE commit marker
    *     ([[graft.operators.Dedup.lshAppend]] extends the sidecar
    *     whenever it exists), so the sidecar can never drift from the
    *     index and the whole batch retries as a unit.
    *
    * Same retry/restart contract as [[runIndexDedupLoopAsStream]]
    * (batchId-keyed appendId, checkpointing, optional compaction — the
    * compact folds the sidecar too). At 100 TB the win is the common
    * case: recrawls are dominated by byte-identical fetches, and this
    * loop prices them at one narrow-key anti join instead of a
    * MinHash signature pass.
    */
  def runFingerprintIngestLoopAsStream(spark: SparkSession, inputDir: String,
                                       indexPath: String, queryName: String,
                                       fpCol: String = "fp",
                                       maxFilesPerTrigger: Option[Int] = None,
                                       checkpointLocation: Option[String] = None,
                                       compactEvery: Option[Int] = None): DataFrame = {
    val n0 = graft.operators.Dedup.lshIndexCommittedDocs(spark, indexPath)
    drainForeachBatch(spark, inputDir, queryName, maxFilesPerTrigger,
        checkpointLocation, preflight = { schema =>
      require(schema.fieldNames.contains(fpCol),
        s"input at $inputDir carries no stored fingerprint column '$fpCol' — " +
          "this loop is for the hash-at-ingest layout; stamp " +
          s"xxhash64(text) as '$fpCol' at write time (or run " +
          "runIndexDedupLoopAsStream, which needs no layout)")
      // fail fast if the index has no sidecar (lshFingerprints throws the
      // actionable error) rather than on the first micro-batch
      graft.operators.Dedup.lshFingerprints(spark, indexPath): Unit
    }) { (batch, batchId) =>
      // exact stages (within-batch keeper + sidecar anti join) then the
      // LSH stage on the survivors; accepted docs + their fps append
      // under one marker
      val (accepted, release) = GraftColumnShim.snapshot(
        graft.operators.Dedup.dedupAgainstIndexFingerprinted(batch,
          indexPath, "text", "doc_id", fpCol))
      try graft.operators.Dedup.lshAppend(accepted, "text", "doc_id", indexPath,
        appendId = Some(s"$queryName-b$batchId"))
      finally release()
      compactEvery.foreach { n =>
        if ((batchId + 1) % n == 0)
          graft.operators.Dedup.lshCompact(spark, indexPath)
      }
    }
    import spark.implicits._
    val n1 = graft.operators.Dedup.lshIndexCommittedDocs(spark, indexPath)
    Seq((n1 - n0, n1)).toDF("n_kept", "n_index_docs")
  }

  /** PARAGRAPH-DEDUP INGEST LOOP: the CCNet/Dolma boilerplate pass
    * ([[graft.operators.ParagraphDedup]]) as a standing stream against a
    * GROWING seen-unit store ([[graft.operators.UnitStore]]). Each
    * micro-batch is rewritten keep-first — a unit occurrence survives
    * iff its key is not in the store (the lake and every EARLIER
    * accepted batch) and it is the batch's first occurrence — the
    * cleaned docs land as parquet under `outDir/batch_id=<id>`, and the
    * batch's novel unit keys append to the store under a
    * batchId-keyed commit marker. Per micro-batch the wide work is one
    * membership join of the batch's 8-byte unit keys against the store
    * (bucketed store: no store-side exchange) — the lake's text never
    * enters the stream, and nothing scales with the store but that scan.
    *
    * RETRY SAFETY — the REWRITE is the product here, so this loop needs
    * one guarantee beyond the index loops' marker idempotency: a
    * replayed micro-batch must recompute the SAME cleaned text even
    * when its first run's append already committed (otherwise the
    * replay would see its own keys in the store and drop everything).
    * The accept stage therefore reads the store EXCLUDING the batch's
    * own appendId ([[graft.operators.UnitStore.read]]'s
    * `excludeAppendIds`), making the computation deterministic across
    * retries; the cleaned output lands with per-batch OVERWRITE (same
    * batch id → same directory), and the store append no-ops on its
    * marker. Crash anywhere: the un-committed attempt is invisible, the
    * retry overwrites the partial output dir. Pass `checkpointLocation`
    * so a restart resumes instead of re-reading.
    *
    * Returns one summary row after the stream drains:
    * `(n_docs, n_units, n_dropped, sum_clean_chars, n_store_keys)` —
    * the first four aggregated from the cleaned output read back off
    * disk (gating the file-commit path), the tally from the store meta.
    */
  def runParagraphDedupLoopAsStream(spark: SparkSession, inputDir: String,
                                    storePath: String, outDir: String,
                                    queryName: String,
                                    unitize: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                    joinSep: String,
                                    idCol: String = "doc_id",
                                    textCol: String = "text",
                                    maxFilesPerTrigger: Option[Int] = None,
                                    checkpointLocation: Option[String] = None,
                                    compactEvery: Option[Int] = None): DataFrame = {
    drainForeachBatch(spark, inputDir, queryName, maxFilesPerTrigger,
        checkpointLocation) { (batch, batchId) =>
      val appendId = s"$queryName-b$batchId"
      // DEFERRED COMPACTION — at the START of a batch, never inline
      // after this batch's append: a compact between the append and
      // the stream's checkpoint commit would fold the batch's marker,
      // disarming the replay's excludeAppendIds hook (the replay would
      // see its own keys as base rows and OVERWRITE correct output
      // with an all-dropped rewrite). When batch N starts, batches
      // < N are durably committed in the checkpoint and safe to fold;
      // the batch's OWN appendId is kept unfolded because a crashed
      // earlier attempt of this very batch may have committed its
      // marker. Same trigger cadence as before (after every n-th
      // batch), shifted past that batch's checkpoint commit; a
      // drained stream's final window is compacted by the next run.
      compactEvery.foreach { n =>
        if (batchId > 0 && batchId % n == 0)
          graft.operators.UnitStore.compact(spark, storePath,
            keepAppendIds = Seq(appendId))
      }
      val a = graft.operators.ParagraphDedup.storeAccept(
        batch, idCol, textCol, unitize, joinSep, storePath,
        excludeAppendIds = Seq(appendId))
      try {
        a.cleaned.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        graft.operators.UnitStore.append(a.novelKeys, "h", storePath,
          appendId = Some(appendId))
      } finally a.release()
    }
    val nKeys = graft.operators.UnitStore.committedKeys(spark, storePath)
    spark.read.parquet(outDir)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_units")).cast("long").as("n_units"),
        sum(col("n_dropped")).cast("long").as("n_dropped"),
        sum(length(col("clean_text"))).cast("long").as("sum_clean_chars"))
      .withColumn("n_store_keys", lit(nKeys))
  }

  /** THE COMPLETE CRAWL-TO-TRAINING INGEST PIPELINE as one standing
    * stream — the three dedup stages this library ships, composed in
    * the order a CCNet-style production pipeline runs them, against
    * their three persisted stores:
    *
    *  1. EXACT (stored fingerprint): within-batch keeper + anti join
    *     against the LSH index's fingerprint sidecar — byte-identical
    *     recrawl arrivals drop on 8-byte keys
    *     ([[graft.operators.Dedup.dedupAgainstIndexFingerprinted]]'s
    *     first two stages);
    *  2. NEAR-DUP (MinHash-LSH vs the persisted index) on the survivors;
    *     accepted docs and their fingerprints append back under one
    *     batchId-keyed commit marker ([[graft.operators.Dedup.lshAppend]]);
    *  3. BOILERPLATE (paragraph keep-first vs the seen-unit store) —
    *     the ACCEPTED docs are rewritten, the cleaned docs land as
    *     per-batch parquet under `outDir/batch_id=<id>`, and the novel
    *     unit keys append to the store under the same batchId key.
    *
    * Dedup before rewrite, not after: near-dup identity should be judged
    * on the document as fetched (the index stores original text, so
    * tomorrow's refetch compares against like form), while the unit
    * store tracks the CLEANED corpus — a unit becomes "seen" only when
    * a doc carrying it was actually accepted into the lake.
    *
    * REPLAY DETERMINISM, ACROSS ALL THREE STORES: the pipeline's product
    * is the cleaned per-batch output, so — like
    * [[runParagraphDedupLoopAsStream]] but now for every stage — a
    * retried micro-batch must recompute IDENTICAL results even after
    * its first run's appends committed. Every read therefore excludes
    * the batch's own appendId (`excludeAppendIds` through the sidecar,
    * the band/hash scans, and the unit store), both appends no-op on
    * their markers, and the cleaned output is a per-batch overwrite.
    * A crash between the two appends retries cleanly: the LSH append
    * no-ops, the store append completes, the output dir is rewritten
    * byte-identically. There is deliberately NO cross-store atomic
    * commit — each store keeps its own marker log, and determinism (not
    * atomicity) is what makes the interleaving safe.
    *
    * Returns one row after the stream drains:
    * `(n_kept, n_index_docs, n_units, n_dropped_units, sum_clean_chars,
    * n_store_keys)` — index figures from committed meta deltas, rewrite
    * figures read back off the cleaned output files.
    */
  def runIngestPipelineAsStream(spark: SparkSession, inputDir: String,
                                indexPath: String, storePath: String,
                                outDir: String, queryName: String,
                                unitize: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                joinSep: String,
                                fpCol: String = "fp",
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                maxFilesPerTrigger: Option[Int] = None,
                                checkpointLocation: Option[String] = None,
                                compactEvery: Option[Int] = None): DataFrame = {
    runIngestStages(spark, inputDir, indexPath, storePath, outDir, queryName,
        unitize, joinSep, fpCol, idCol, textCol, maxFilesPerTrigger,
        checkpointLocation, compactEvery, requireInput = { schema =>
      require(schema.fieldNames.contains(fpCol),
        s"input at $inputDir carries no stored fingerprint column '$fpCol' — " +
          s"stamp xxhash64($textCol) as '$fpCol' at write time")
    })((_, _) => ())
    val n1 = graft.operators.Dedup.lshIndexCommittedDocs(spark, indexPath)
    val nKeys = graft.operators.UnitStore.committedKeys(spark, storePath)
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
    * [[runIngestPipelineAsStream]]'s three dedup/rewrite stages plus the
    * per-batch CURATION TAIL a production pipeline runs on the cleaned
    * docs before they become training data: the assembled
    * [[graft.operators.Curate]] chain (exact dedup on the cleaned text →
    * benchmark decontamination → quality floor → deterministic sample →
    * per-source mixing → per-language sequence packing), landed as
    * sorted, language-partitioned shards ([[graft.operators.ShardWriter]])
    * under `shardsDir/batch_id=<id>`. The cleaned docs still land under
    * `outDir/batch_id=<id>` (the lake product); the shards are the
    * training-ready tail.
    *
    * Stage order per micro-batch: exact (stored fp) → LSH near-dup →
    * paragraph rewrite → curation tail. The tail consumes the REWRITTEN
    * text (quality/packing should judge the text a training run would
    * see, boilerplate already gone) joined back to the batch's
    * lang/source attributes; the benchmark side is a STATIC frame
    * broadcast per batch (eval suites are KBs — the corpus side never
    * shuffles for it).
    *
    * REPLAY DETERMINISM extends through the tail for free: every stage
    * of the [[graft.operators.Curate]] chain is a pure function of its
    * input (hash coins, stable tie-breaks — the q86 bit-reproducibility
    * contract), so with the dedup stages' reads self-excluding the
    * batch's own appendId, a replayed micro-batch recomputes IDENTICAL
    * cleaned docs, hence identical curated rows, and both landings are
    * per-batch overwrites. The pack stage needs no persisted-state
    * exclusion of its own: bins are computed within the batch (prefix
    * sums in `(id, replica)` order), not against a store.
    *
    * Returns one summary row set after the stream drains, aggregated
    * from the SHARD FILES read back off disk (gating the file-commit
    * path, the qs06 precedent): `(langCol, bin, n_docs, sum_tokens)`.
    */
  def runIngestPipelineToShardsAsStream(spark: SparkSession, inputDir: String,
                                        indexPath: String, storePath: String,
                                        outDir: String, shardsDir: String,
                                        queryName: String,
                                        unitize: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
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
    runIngestStages(spark, inputDir, indexPath, storePath, outDir, queryName,
        unitize, joinSep, fpCol, idCol, textCol, maxFilesPerTrigger,
        checkpointLocation, compactEvery, requireInput = { schema =>
      Seq(fpCol, idCol, textCol, langCol, sourceCol).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"input at $inputDir carries no '$c' column — the shard tail needs " +
            s"($idCol, $textCol, $fpCol, $langCol, $sourceCol)"))
    }) { (accepted, batchId) =>
      // the curation tail on the cleaned text, batch-proportional: read
      // the rewrite BACK off the batch's just-landed files (already
      // materialized — re-consuming the rewrite would run its join
      // twice); attributes join back from the accepted snapshot
      val curInput = graft.operators.IndexLifecycle.readDir(spark,
        s"$outDir/batch_id=$batchId")
        .join(accepted.select(col(idCol), col(langCol), col(sourceCol)),
          idCol)
      val curated = graft.operators.Curate.curate(
        curInput, bench, idCol, "clean_text", langCol, sourceCol,
        minWords, minUniqRatio, sampleNumerator, weights, packBudget)
      graft.operators.ShardWriter.writeShards(curated,
        s"$shardsDir/batch_id=$batchId", langCol,
        Seq("bin", idCol, "replica")): Unit
    }
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
    drainForeachBatch(spark, inputDir, queryName, maxFilesPerTrigger,
        checkpointLocation) { (batch, batchId) =>
      graft.operators.SimilaritySearch.ivfAppend(batch, "embedding",
        "vec_id", indexPath, appendId = Some(s"$queryName-b$batchId"))
    }

  /** The per-micro-batch stages shared by [[runIngestPipelineAsStream]]
    * and [[runIngestPipelineToShardsAsStream]]: deferred compaction of
    * both stores, the exact + near-dup accept against the index (one
    * snapshot), the index append, the paragraph rewrite landed under
    * `outDir/batch_id=<id>`, and the unit-store append. `tail` then runs
    * with the accepted snapshot and the batch id, before either release.
    * `requireInput` checks the input schema before the stream starts,
    * followed by the index's fingerprint sidecar (fail fast).
    */
  private def runIngestStages(spark: SparkSession, inputDir: String,
                              indexPath: String, storePath: String,
                              outDir: String, queryName: String,
                              unitize: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                              joinSep: String, fpCol: String, idCol: String,
                              textCol: String,
                              maxFilesPerTrigger: Option[Int],
                              checkpointLocation: Option[String],
                              compactEvery: Option[Int],
                              requireInput: StructType => Unit)(
                               tail: (DataFrame, Long) => Unit): Unit =
    drainForeachBatch(spark, inputDir, queryName, maxFilesPerTrigger,
        checkpointLocation, preflight = { schema =>
      requireInput(schema)
      graft.operators.Dedup.lshFingerprints(spark, indexPath): Unit
    }) { (batch, batchId) =>
      val appendId = s"$queryName-b$batchId"
      // deferred compaction, keeping the batch's own appendId unfolded
      // — see runParagraphDedupLoopAsStream (same contract, both
      // stores: folding a marker the checkpoint hasn't committed would
      // disarm the replay's excludeAppendIds hook in EVERY stage)
      compactEvery.foreach { n =>
        if (batchId > 0 && batchId % n == 0) {
          graft.operators.Dedup.lshCompact(spark, indexPath,
            keepAppendIds = Seq(appendId))
          graft.operators.UnitStore.compact(spark, storePath,
            keepAppendIds = Seq(appendId))
        }
      }
      // one snapshot serves the append, the rewrite and the tail — see
      // runIndexDedupLoopAsStream
      val (accepted, release) = GraftColumnShim.snapshot(
        graft.operators.Dedup.dedupAgainstIndexFingerprinted(batch,
          indexPath, textCol, idCol, fpCol, excludeAppendIds = Seq(appendId)))
      try {
        graft.operators.Dedup.lshAppend(accepted, textCol, idCol,
          indexPath, appendId = Some(appendId))
        val a = graft.operators.ParagraphDedup.storeAccept(
          accepted, idCol, textCol, unitize, joinSep, storePath,
          excludeAppendIds = Seq(appendId))
        try {
          a.cleaned.write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
          graft.operators.UnitStore.append(a.novelKeys, "h", storePath,
            appendId = Some(appendId))
          tail(accepted, batchId)
        } finally a.release()
      } finally release()
    }

  /** The one `foreachBatch` stream setup behind the file-fed index and
    * ingest loops: read the input's schema, run `preflight` on it (a
    * loop's input and store checks, before any stream starts), stream
    * `inputDir` (`maxFilesPerTrigger` files per trigger when set) into
    * `body` with each micro-batch's id, checkpoint under
    * `checkpointLocation` when set, and return once everything
    * available has been processed.
    */
  private def drainForeachBatch(spark: SparkSession, inputDir: String,
                                queryName: String,
                                maxFilesPerTrigger: Option[Int],
                                checkpointLocation: Option[String],
                                preflight: StructType => Unit = _ => ())(
                                 body: (DataFrame, Long) => Unit): Unit = {
    val schema = spark.read.parquet(inputDir).schema
    preflight(schema)
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
    val writer = stream.writeStream.queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), batchId)
      }
    val q = checkpointLocation
      .fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
