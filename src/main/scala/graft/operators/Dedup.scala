package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IndexLifecycle.AttemptCol

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact:       one hash-groupBy shuffle on a 16-byte key, no text
  *                 movement after the hash.
  *  - minhashLsh:  shingle → signature (executor-local) → band explode →
  *                 bucket groupBy → candidate pairs (bounded per bucket) →
  *                 exact-Jaccard verify join. The only quadratic work is
  *                 inside LSH buckets; everything shuffles on narrow keys.
  *  - simhash:     64-bit signature; pigeonhole banding on 4×16-bit
  *                 chunks finds all pairs within hamming distance ≤ 3 with
  *                 one equi-join per chunk (exactness by pigeonhole), then
  *                 an exact popcount check.
  *  - ngramJaccard: exact pairwise within a blocking key (for small
  *                 candidate sets / validation of the approximate paths).
  *  - embeddingCosine: see [[SimilaritySearch.cosineNearDupPairs]].
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Exact dedup on normalized text: keep the lowest-id row per content
    * hash. Returns the surviving rows of `df`.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Single pass: one md5 evaluation, one scan, one shuffle on the
    // 16-byte hash — the lowest-id row per content hash survives. Window
    // partitioning groups NULL hashes together, so NULL-text rows keep
    // one representative instead of silently vanishing.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Cost-gated xxhash64 collision prefilter — ONE copy of the q44 gate
    * shared by [[exactGroups]] and the q44 gate query. Above `gateBytes`
    * of scan input (Catalyst stats), keep only rows whose codegen'd
    * `xxhash64(text)` collides with another row's; md5 then runs on
    * those survivors only. At the bench corpus's dup rate (~0.2%) this
    * removes the MessageDigest cost from 99.8% of bytes (measured
    * 1.50→1.24 s at sf100, Probe q44v1/v2); below the gate the two
    * extra stages cost more than the md5 they save (sf0.1 0.32→0.36 s).
    *
    * The broadcast decision is made on the MEASURED colliding-group
    * count, never on hope: the colliding set's size is dup-rate
    * proportional, and target corpora for exact dedup are dup-HEAVY — a
    * fresh web crawl runs 20–40% exact dups, so at 10⁹ docs the
    * colliding set is ~10⁸ hashes (~800 MB), far over any sane broadcast
    * budget; an unconditional broadcast hint would OOM the driver
    * exactly on the corpora this operator targets. Letting AQE decide is
    * no better in the other direction: an SMJ-planned semi still
    * shuffles the PROBE side (the full text projection) before AQE's
    * runtime broadcast conversion can apply — measured +36% at sf100
    * (Probe q44v3 1.58 s vs q44v2 1.16 s), and a full-corpus shuffle at
    * 100 TB. So the prefilter materializes AT MOST
    * `broadcastMaxCollidingGroups`+1 colliding hashes with a capped
    * limit+collect (one eager job at construction time, the
    * [[HeavyHitters.topKPerGroup]] probe pattern): a small set comes
    * back to the driver (≤ 8 MB of longs) and broadcasts as a literal
    * frame — the probe side never shuffles, the colliding aggregation
    * never runs twice; overflow falls back to the unhinted spill-safe
    * shuffled semi, which recomputes the (narrow, hash-only) aggregation
    * but holds no memory assumption anywhere.
    *
    * Semantics note: the prefiltered path is faithful to TEXT equality —
    * equal text ⟹ equal xxhash64 ⟹ survives, so no true duplicate is
    * ever lost. The md5-only path below the gate inherits md5's
    * (crafted-collision-level) behavior of grouping two DIFFERENT texts
    * with a constructed md5 collision; above the gate such a pair has
    * different xxhash64 values and is correctly NOT reported. The two
    * regimes can only be told apart by an adversarially constructed md5
    * collision in the corpus.
    */
  private[graft] def collidingTextPrefilter(
      df: DataFrame, textCol: String,
      gateBytes: Long = 32L * 1024 * 1024,
      broadcastMaxCollidingGroups: Int = 1000000,
      prehashedCol: Option[String] = None): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < gateBytes) df
    else {
      // a corpus whose ingest stored the fingerprint skips the hash
      // compute AND the text decode on the probe pass — the colliding
      // aggregation reads the 8-byte column only. Bind through df(...)
      // so a stored column named "xh" cannot collide with the probe
      // frames' own "xh" in the join conditions below.
      def xh = prehashedCol.map(df(_)).getOrElse(xxhash64(col(textCol)))
      val colliding = df
        .groupBy(xh.as("xh"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .select(col("xh"))
      val probed = colliding.limit(broadcastMaxCollidingGroups + 1)
        .collect().map(_.getLong(0))
      if (probed.length <= broadcastMaxCollidingGroups) {
        val spark = df.sparkSession
        import spark.implicits._
        val small = probed.toSeq.toDF("xh")
        df.join(broadcast(small), xh === small("xh"), "left_semi")
      } else {
        df.join(colliding, xh === colliding("xh"), "left_semi")
      }
    }
  }

  /** Exact-dup groups (hash, keeper id, count) — the audit view.
    * Cost-gated via [[collidingTextPrefilter]]; md5 still decides group
    * identity and is the emitted hash. `gateBytes` is exposed so specs
    * can force the prefiltered shape on small fixtures (gateBytes = 0);
    * production callers keep the measured default.
    *
    * `hashCol` names a column that INGEST stored as the 64-bit content
    * fingerprint (`xxhash64(textCol)`, written once when the row entered
    * the lake) — the layout answer to exact dedup at 100 TB, the same
    * move as bucketing-at-ingest for joins: the colliding-group probe
    * then reads ONLY the 8-byte fingerprint column (KBs of parquet chunks
    * per million docs — no text decode, no hash compute), and the corpus
    * text is decoded exactly once, in the md5 pass over colliding
    * survivors. Output and broadcast/overflow gate are identical to the
    * unhashed prefiltered shape (spec-pinned equal); faithfulness needs
    * only that `hashCol` is a pure function of the text (equal text ⟹
    * equal stored hash), which `xxhash64` at ingest gives by
    * construction. Cost: probe pass ~free, main pass = one text scan —
    * vs the unhashed shape's two full text scans. The `gateBytes` gate
    * applies either way: below it, even a ~free probe pass plus a semi
    * join lose to the single md5 pass (measured 0.17 vs 0.33 s at
    * sf0.1), so tiny inputs skip the prefilter regardless of layout.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String,
                  gateBytes: Long = 32L * 1024 * 1024,
                  broadcastMaxCollidingGroups: Int = 1000000,
                  hashCol: Option[String] = None): DataFrame =
    collidingTextPrefilter(df, textCol, gateBytes,
        broadcastMaxCollidingGroups, prehashedCol = hashCol)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Exact-dup groups with the STORED 64-bit fingerprint as group
    * identity — the DEPLOYMENT form of exact dedup on the
    * hash-at-ingest layout, completing what [[exactGroups]]' `hashCol`
    * started: when ingest wrote `hashCol = xxhash64(textCol)` next to
    * the text, dup-group discovery needs NO text at all — one scan of
    * the 8-byte column (parquet prunes every other column) and one
    * narrow-key shuffle. md5, and the full-corpus text decode it
    * forces, is confined to the AUDIT view ([[exactGroups]] / the q98
    * gate), which oracle-strength output demands but the daily dedup
    * loop does not.
    *
    * Faithfulness: equal text ⟹ equal stored fingerprint, so no true
    * duplicate is ever missed, and (keeper, n_copies) equals the md5
    * view's whenever the corpus has no cross-text fingerprint
    * collision — spec-pinned, and gated against the md5 oracle (q99).
    * A 64-bit identity can FALSE-MERGE two distinct texts with
    * probability ≈ n²/2⁶⁵ corpus-wide (~3×10⁻⁵ at 10⁹ docs); pipelines
    * for which that is material run the audit view over the reported
    * groups — that verification is dup-proportional, never
    * corpus-proportional, which is the whole point of the layout.
    * Null-text rows share the fingerprint of the empty hash input and
    * group together, mirroring [[exact]]'s null-window behavior.
    */
  def exactGroupsFingerprint(df: DataFrame, idCol: String,
                             hashCol: String): DataFrame =
    df.groupBy(col(hashCol).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  // ---- minhash + LSH --------------------------------------------------

  /** Distinct word k-shingles (word n-grams) of normalized text as an
    * array; documents shorter than k words yield an empty array (no
    * partial shingles), so [[Decontaminate]] never flags them.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    require(k >= 1, s"n-gram size must be >= 1, got $k")
    // \s+ (not a literal space) so space runs, tabs and newlines between
    // words never yield empty tokens inside an n-gram. `trim` strips
    // spaces only: a leading or trailing tab or newline still yields an
    // empty first or last token, as the DuckDB oracles' trim +
    // regexp_split_to_array does.
    val words = split(lower(trim(text)), "\\s+")
    when(size(words) >= k,
      array_distinct(
        transform(sequence(lit(0), size(words) - k),
          i => concat_ws(" ", slice(words, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Shingle a tokenized doc into distinct k-word shingle strings —
    * executor-local Scala (shared by signature and verify paths so both
    * see identical sets).
    */
  private[graft] def shingleStrings(text: String, k: Int): Array[String] = {
    if (text == null) return Array.empty
    val words = text.trim.toLowerCase.split("\\s+")
    if (words.length < k) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Sorted distinct 64-bit shingle hashes of a text — the verify-join
    * input ([[NearDupPairs.shingleHashes]]). 64-bit hashing keeps Jaccard
    * exact up to a ~2^-64 per-pair collision probability (~10^-9
    * corpus-wide at 10^5 docs) — the string-set and hashed-set Jaccard
    * agree on every real corpus this runs on.
    */
  private[graft] def shingleHashes64Udf(k: Int) = udf((text: String) => {
    val sh = shingleStrings(text, k)
    if (sh.isEmpty) null
    else {
      val out = new Array[Long](sh.length)
      var i = 0
      while (i < sh.length) {
        val h1 = scala.util.hashing.MurmurHash3.stringHash(sh(i), 42)
        val h2 = scala.util.hashing.MurmurHash3.stringHash(sh(i), 0x5bd1e995)
        out(i) = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
        i += 1
      }
      java.util.Arrays.sort(out)
      // shingleStrings already de-duped; hash collisions inside one doc
      // (would violate sorted-distinct) are removed defensively
      var n = 0
      var j = 0
      while (j < out.length) {
        if (j == 0 || out(j) != out(j - 1)) { out(n) = out(j); n += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, n)
    }
  }).withName("shingle_hashes64")

  /** (id, __text) projection spread round-robin over the session's
    * shuffle partitions. Shared by the self-join and cross-corpus
    * operators. The signature kernels are the CPU-heaviest stages
    * (numPerm multiplies per shingle); scan partitioning follows file
    * size, which for compressed text may be a handful of partitions, so
    * one narrow shuffle of raw text is amortized over orders of
    * magnitude more signature compute.
    */
  private def prepTexts(src: DataFrame, textCol: String, idCol: String): DataFrame =
    src.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(src.sparkSession.sessionState.conf.numShufflePartitions)

  /** (id, band, bucket) banding rows from a [[prepTexts]] projection.
    * This is THE band hash family: the cross-corpus operator's
    * correctness rests on both corpora hashing bands identically, so
    * there is exactly one copy of the signature-slice-hash pipeline.
    */
  private def bandRows(base: DataFrame, numPerm: Int, bands: Int,
                       shingleK: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    base
      // the native kernel, not a UDF: bit-identical signatures to the
      // UDF reference (MinHashKernelSpec pins parity), 21-25% faster per
      // corpus pass at sf1/sf10 — the ScalaUDF wrapper (catalyst↔Scala
      // converters, 128 boxed longs per row on output) was the delta
      .withColumn("sig", graft.functions.MinHashSig.sig(col("__text"), numPerm, shingleK))
      // Null sigs (sub-shingle docs) are dropped by the null-propagating
      // `when` guard: posexplode of a null array generates no rows —
      // byte-identical band rows to an explicit filter(sig.isNotNull).
      // An explicit filter was the round-1..18 spelling, and it planned
      // BADLY: the optimizer pushed `isnotnull(minhash_sig(text))` below
      // the repartition exchange, evaluating the signature kernel TWICE
      // per doc (scan-side filter + post-exchange projection) and — the
      // differing scan filters — splitting the corpus scan into two
      // un-reusable exchanges (r19 plan audit, plans/r19/q47_*_before).
      .select(col("id"),
        posexplode(when(col("sig").isNotNull,
          transform(sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand)), b)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Near-duplicate pairs via MinHash-LSH with exact-Jaccard verification.
    *
    * Pipeline (all narrow-key shuffles):
    *  1. signature: one kernel pass per doc, no intermediate array columns;
    *  2. banding: (id, band, bucket) rows only — shingle/text data never
    *     rides the candidate join;
    *  3. candidates: per-bucket self-join, distinct (id_a, id_b);
    *  4. verify: join the candidate ids back to the text and compute
    *     exact shingle Jaccard — candidate volume is LSH-bounded, so this
    *     step is O(|near-dups|), not O(n²).
    *
    * @param threshold verified Jaccard threshold on shingle sets
    * @param numPerm   signature length (bands × rowsPerBand)
    * @param bands     LSH bands; candidate recall at j:
    *                  1-(1-j^(numPerm/bands))^bands
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.8, numPerm: Int = 128,
                      bands: Int = 16, shingleK: Int = 3): DataFrame = {
    val base = prepTexts(df, textCol, idCol)
    val candidates = NearDupPairs.distinctPairs(NearDupPairs.selfJoin(
      bandRows(base, numPerm, bands, shingleK), Seq("band", "bucket")), "id_a", "id_b")
    val hashed = NearDupPairs.shingleHashes(base, shingleK)
    NearDupPairs.verify(candidates, hashed, hashed, "id_a", "id_b", threshold)
  }

  /** Corpus after MinHash-LSH dedup with PAIR-level semantics: any row
    * that appears as the larger id of a verified pair is dropped. For a
    * direct pair this keeps the smaller id; for a transitive CHAIN it
    * can keep more than one doc per cluster (edges {5–10, 1–10}: 5 never
    * appears as a larger id and survives alongside 1). When one-doc-per-
    * CLUSTER semantics are required, run the pairs through
    * [[ConnectedComponents.dedupByComponents]] instead — it labels each
    * doc with its component minimum and keeps exactly that one.
    */
  def minhashLshDedup(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.8, numPerm: Int = 128,
                      bands: Int = 16): DataFrame = {
    NearDupPairs.dropPairs(df, idCol,
      minhashLshPairs(df, textCol, idCol, threshold, numPerm, bands), "id_b")
  }

  /** Cross-corpus near-duplicate pairs: MinHash-LSH candidates between a
    * NEW batch and an existing REFERENCE corpus, verified by exact
    * shingle Jaccard — the incremental-ingestion form of
    * [[minhashLshPairs]] (dedup a fresh crawl against the already-kept
    * lake without re-deduping the lake against itself). Both sides run
    * the SAME signature hash family, so band buckets align across
    * corpora; the band join is hinted sort-merge for the same reason as
    * the self-join (no memory assumption on either side — the reference
    * is the corpus-scale side at 100 TB), and the verify stage is
    * candidate-bounded. Returns (id, ref_id, jaccard), one row per
    * verified cross pair; a doc byte-identical to a reference doc is a
    * pair like any other (jaccard 1.0).
    */
  def minhashLshAgainstPairs(df: DataFrame, ref: DataFrame, textCol: String,
                             idCol: String, threshold: Double = 0.8,
                             numPerm: Int = 128, bands: Int = 16,
                             shingleK: Int = 3): DataFrame = {
    val base = prepTexts(df, textCol, idCol)
    val refBase = prepTexts(ref, textCol, idCol)
    val joined = NearDupPairs.join(bandRows(base, numPerm, bands, shingleK),
      bandRows(refBase, numPerm, bands, shingleK).withColumnRenamed("id", "ref_id"),
      Seq("band", "bucket"), NearDupPairs.Merge)
    NearDupPairs.verify(NearDupPairs.distinctPairs(joined, "id", "ref_id"),
      NearDupPairs.shingleHashes(base, shingleK),
      NearDupPairs.shingleHashes(refBase, shingleK), "id", "ref_id", threshold)
  }

  /** New-batch rows with NO verified near-duplicate in the reference
    * corpus — [[minhashLshAgainstPairs]] reduced to the anti-join
    * ingestion gate. The reference never loses rows (it is already
    * kept); only the new batch is filtered.
    */
  def dedupAgainst(df: DataFrame, ref: DataFrame, textCol: String,
                   idCol: String, threshold: Double = 0.8,
                   numPerm: Int = 128, bands: Int = 16,
                   shingleK: Int = 3): DataFrame = {
    NearDupPairs.dropPairs(df, idCol, minhashLshAgainstPairs(df, ref, textCol,
      idCol, threshold, numPerm, bands, shingleK), "id")
  }

  // ---- persisted LSH index (incremental ingestion at lake scale) ------

  /** Build and PERSIST the reference lake's LSH index — the lifecycle
    * split a 100 TB deployment actually runs (the [[SimilaritySearch.ivfBuild]]
    * precedent): pay the lake's signature pass ONCE at index time, then
    * every incoming batch joins its own band rows against the stored
    * index instead of re-signaturing the whole lake per ingest
    * ([[dedupAgainst]] recomputes the reference side on every call — the
    * exact cost this index exists to amortize).
    *
    * Layout under `path`:
    *  - `bands`:  (ref_id, band, bucket) — the lake's LSH band rows from
    *    THE band hash family ([[bandRows]]), so a batch signed with the
    *    stored parameters buckets identically by construction;
    *  - `hashes`: (ref_id, sh) — per-doc sorted distinct 64-bit shingle
    *    hashes for the exact-Jaccard verify stage;
    *  - `meta`:   one row (num_perm, bands, shingle_k, n_docs,
    *    band_buckets, hash_buckets). Queries read the batch-side
    *    parameters FROM the index, so a caller can never sign the batch
    *    with a mismatched hash family.
    *
    * `bandBuckets > 0` stores the band rows BUCKETED on (band, bucket) —
    * the repo's bucketed-ingest answer applied to the index: a standing
    * huge-batch pipeline's sort-merge band join then needs NO exchange on
    * the lake side (the bucketed scan already satisfies the join's
    * distribution; only the batch shuffles — plan-pinned in
    * OperatorsSpec). The bucketed layout costs one extra shuffle of the
    * (narrow) band rows at BUILD time and changes nothing for the
    * small-batch broadcast regime, where the lake is a streamed scan
    * either way. Pay it when batches routinely overflow the broadcast
    * gate; skip it for daily-ingest-sized batches.
    *
    * Build cost is two text passes over the lake (band rows and verify
    * hashes are separate projections of the same signature scan; caching
    * a 100 TB projection to merge them costs more than the second read).
    * Overwrite-only; day-2 maintenance is [[lshAppend]], periodic
    * small-file folding is [[lshCompact]].
    *
    * All layout I/O goes through the Hadoop FileSystem of `path`, so the
    * index can live on any supported store (`file:`, `hdfs:`, `s3a:`,
    * the repo's `r2:`) — paths may be plain local dirs or full URIs.
    * Data rows carry an `append_attempt` column (null for base rows);
    * appends become visible only through commit markers under
    * `_commits/` — see [[lshAppend]] for the crash-safety contract.
    */
  def lshBuild(ref: DataFrame, textCol: String, idCol: String, path: String,
               numPerm: Int = 128, bands: Int = 16, shingleK: Int = 3,
               bandBuckets: Int = 0): Unit = {
    val spark = ref.sparkSession
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val base = prepTexts(ref, textCol, idCol)
    val bandData = bandRows(base, numPerm, bands, shingleK)
      .withColumnRenamed("id", "ref_id")
      .withColumn(AttemptCol, lit(null).cast("string"))
      .select("ref_id", "band", "bucket", AttemptCol)
    // a REBUILD over a previously appended index erases the appends'
    // rows, so their commit markers must not survive either (stale
    // markers are harmless to correctness — they reference attempts
    // with no rows — but every later read would carry dead entries).
    // Cleared only now, AFTER the inputs have analyzed (prepTexts /
    // bandRows resolve the columns eagerly): a rebuild invoked with a
    // wrong textCol/idCol must fail BEFORE any destructive step, leaving
    // the old index — appends included — fully readable. Everything
    // destructive runs under the single-writer lease.
    IndexLifecycle.withWriterLock(fs, root, "lshBuild",
        IndexLifecycle.lockTtlMs(spark)) {
      IndexLifecycle.clearCommits(fs, root)
      IndexLifecycle.writeDir(spark, fs, root, lshDir("bands", bandBuckets), bandData)
      // bucket the VERIFY hashes on ref_id too (same count): the verify
      // join's lake side — the index's WIDEST data, the shingle-hash
      // arrays — then satisfies its join distribution straight off the
      // scan, so in the huge-batch regime no lake bytes move in EITHER
      // stage of the query (band join pinned since round 15; this
      // closes the hashes join, plan-pinned in OperatorsSpec)
      val hashData = NearDupPairs.shingleHashes(base, shingleK)
        .withColumnRenamed("id", "ref_id")
        .withColumn(AttemptCol, lit(null).cast("string"))
      // one hashes row per doc: the n_docs tally, counted on the write
      val nDocs = IndexLifecycle.countedWrite(hashData)(
        IndexLifecycle.writeDir(spark, fs, root, lshDir("hashes", bandBuckets), _))
      // a REBUILD derives from a fresh lake: the old fingerprint sidecar
      // (if any) describes rows that no longer exist — drop it; the
      // builder re-creates it with [[lshWriteFingerprints]]
      fs.delete(new HPath(root, "fps"), true): Unit
      // a rebuild may change the bucket count or schema under a standing
      // catalog registration — drop it; the next bucketed read re-registers
      IndexLifecycle.dropRegistrations(spark, root, LshIndex.dirNames)
      IndexLifecycle.writeMeta(spark, root, "num_perm" -> numPerm, "bands" -> bands,
        "shingle_k" -> shingleK, "n_docs" -> nDocs, "band_buckets" -> bandBuckets,
        "hash_buckets" -> bandBuckets)
    }
  }

  /** APPEND a batch to a persisted LSH index ([[lshBuild]]) — the day-2
    * maintenance step of the daily-ingest loop: run
    * [[dedupAgainstIndex]], keep the novel docs, then `lshAppend` exactly
    * those ACCEPTED docs so tomorrow's batch dedups against today's lake
    * WITHOUT re-signing it (an overwrite-only index would reintroduce the
    * full lake signature pass — the cost the index exists to amortize —
    * on every ingest after the first).
    *
    * Cost is batch-proportional: signs only `accepted`, appends its band
    * rows and shingle hashes (and fingerprints, when the index has the
    * sidecar), and commits one marker. The HASH FAMILY IS FROZEN
    * at build: the parameters are re-read FROM the index, so a batch can
    * never be signed with a mismatched family. Equivalence contract,
    * spec-pinned pair-for-pair: `build(lake); append(b)` answers every
    * query identically to `build(lake ∪ b)` — band rows and hashes are
    * deterministic per doc, so layout is the only difference. Appending
    * a doc id already in the index duplicates its band rows (candidates
    * dedup, but the verify join would emit two rows) — the contract is
    * append ACCEPTED (novel) docs, one logical writer at a time (the
    * lease enforces the one-writer half; retries of that writer are
    * fine).
    *
    * Crash safety, `appendId` idempotency and the marker's doc count
    * are the shared [[IndexLifecycle.append]] sequence: a crash
    * before the marker leaves the index answering as before (a partial
    * write can never surface band rows without their verify hashes — the
    * silent-missed-dup failure an unguarded append had), and the append
    * never scans the index's own data (spec-pinned by bytes read).
    * Streaming drivers key the id on the batch id (see
    * [[graft.streaming.DocsStream.runIndexDedupLoopAsStream]]).
    */
  def lshAppend(accepted: DataFrame, textCol: String, idCol: String,
                path: String, appendId: Option[String] = None): Unit =
    IndexLifecycle.append(accepted.sparkSession, path, LshIndex, "lshAppend",
        appendId) { batch =>
      val shingleK = batch.meta.getAs[Int]("shingle_k")
      val base = prepTexts(accepted, textCol, idCol)
      batch.append("bands", bandRows(base, batch.meta.getAs[Int]("num_perm"),
          batch.meta.getAs[Int]("bands"), shingleK)
        .withColumnRenamed("id", "ref_id").select("ref_id", "band", "bucket"))
      // one hashes row per accepted doc: the count the marker records
      batch.append("hashes",
        NearDupPairs.shingleHashes(base, shingleK).withColumnRenamed("id", "ref_id"))
      // an index with a fingerprint sidecar ([[lshWriteFingerprints]])
      // extends it with the batch's fps UNDER THE SAME MARKER — the
      // sidecar can never drift from the band/hash rows
      if (batch.exists("fps"))
        batch.append("fps", accepted.select(xxhash64(col(textCol)).as("fp")))
    }

  /** The columns of an LSH index's one-row `meta`, in write order. */
  private val MetaCols =
    Seq("num_perm", "bands", "shingle_k", "n_docs", "band_buckets", "hash_buckets")

  /** Bucket columns of the LSH index's data dirs. */
  private val BucketCols =
    Map("bands" -> Seq("band", "bucket"), "hashes" -> Seq("ref_id"), "fps" -> Seq("fp"))

  /** LSH data dir `name` bucketed `n` ways (plain for `n = 0`). */
  private def lshDir(name: String, n: Int): IndexLifecycle.DataDir =
    IndexLifecycle.DataDir(name, IndexLifecycle.bucketedOr(n, BucketCols(name): _*))

  /** The persisted LSH index: `bands`, `hashes` and the optional `fps`
    * sidecar; `bands` buckets per the meta's `band_buckets`, the other
    * two per `hash_buckets`. `n_docs` counts the hashes rows (one per
    * doc).
    */
  private object LshIndex extends IndexLifecycle.Store(Seq("bands", "hashes", "fps"),
      MetaCols, Some(("n_docs", "hashes"))) {
    def dir(meta: org.apache.spark.sql.Row, name: String): IndexLifecycle.DataDir =
      lshDir(name, meta.getAs[Int](if (name == "bands") "band_buckets" else "hash_buckets"))
  }

  // ---- fingerprint sidecar (hash-at-ingest exact stage) ---------------

  /** Write the hash-at-ingest FINGERPRINT SIDECAR of a persisted LSH
    * index: one `xxhash64(text)` per lake doc under `$path/fps` — the
    * [[exactGroupsFingerprint]] layout answer applied to the daily
    * loop. With it, the ingest pipeline's EXACT stage
    * ([[graft.streaming.DocsStream.runFingerprintIngestLoopAsStream]])
    * drops byte-identical arrivals by anti-joining 8-byte columns —
    * before any signature work runs — and only the survivors pay the
    * LSH machinery. Bucketed on `fp` when the index's hashes are
    * bucketed (same count), so the sidecar side of the anti join needs
    * NO exchange at query time; the micro-batch side shuffles its own
    * 8-byte keys only.
    *
    * The sidecar is a first-class index dir: [[lshAppend]] extends it
    * (rows tagged with the append's attempt id, gated by the SAME
    * commit marker as the band/hash rows — all-or-nothing with the
    * rest of the batch), [[lshCompact]] folds it, and a crashed append
    * leaves it exactly as before. Overwrite-only here (build-time).
    */
  def lshWriteFingerprints(ref: DataFrame, textCol: String,
                           path: String): Unit = {
    val spark = ref.sparkSession
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val meta = IndexLifecycle.readMeta(spark, root, MetaCols: _*)
    val data = ref.select(xxhash64(col(textCol)).as("fp"))
      .withColumn(AttemptCol, lit(null).cast("string"))
    IndexLifecycle.withWriterLock(fs, root, "lshWriteFingerprints",
        IndexLifecycle.lockTtlMs(spark)) {
      IndexLifecycle.writeDir(spark, fs, root, LshIndex.dir(meta, "fps"), data)
      IndexLifecycle.dropRegistrations(spark, root, Seq("fps"))
    }
  }

  /** The committed fingerprints of an index's sidecar (one `fp` column)
    * — resolves visibility through the same commit markers as every
    * other index dir, reads bucketed when the sidecar is. Throws a
    * named error when the index has no sidecar (build one with
    * [[lshWriteFingerprints]]).
    */
  def lshFingerprints(spark: SparkSession, path: String,
                      excludeAppendIds: Seq[String] = Nil): DataFrame = {
    val index = IndexLifecycle.open(spark, path, LshIndex, excludeAppendIds)
    require(index.exists("fps"),
      s"index at $path has no fingerprint sidecar — run " +
        "lshWriteFingerprints(lake, textCol, path) once after the build")
    index.visible("fps")
  }

  /** [[dedupAgainstIndex]] for a batch CARRYING its stored fingerprint
    * (`fpCol = xxhash64(textCol)`, stamped at write) against an index
    * with a fingerprint sidecar — the per-batch ACCEPT computation of
    * the fingerprint ingest loop, reusable read-only (probes, dry runs):
    *  1. within-batch exact stage on the stored fingerprint
    *     ([[exactGroupsFingerprint]], min-id keeper survives);
    *  2. sidecar anti join ([[lshFingerprints]]) — byte-identical
    *     re-arrivals of lake docs drop on 8-byte keys;
    *  3. the LSH stage on what remains.
    * No text is hashed or decoded before stage 3, and stage 3 signs only
    * the genuinely novel tail — on recrawl-shaped ingest (dominated by
    * byte-identical refetches) that is the whole win; see the Probe
    * q96recrawl A/B in SCALE.md round 17.
    */
  def dedupAgainstIndexFingerprinted(df: DataFrame, indexPath: String,
                                     textCol: String, idCol: String,
                                     fpCol: String,
                                     threshold: Double = 0.8,
                                     broadcastMaxBandRows: Long = 1000000L,
                                     excludeAppendIds: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val groups = exactGroupsFingerprint(df, idCol, fpCol)
      .select(col("fingerprint").as(fpCol), col("keeper"))
    val within = df.join(groups, Seq(fpCol), "left")
      .filter(col("keeper").isNull || col("keeper") === col(idCol))
      .drop("keeper")
    val fresh = within.join(
      lshFingerprints(spark, indexPath, excludeAppendIds)
        .withColumnRenamed("fp", fpCol),
      Seq(fpCol), "left_anti")
    dedupAgainstIndex(fresh, indexPath, textCol, idCol, threshold,
      broadcastMaxBandRows, excludeAppendIds)
  }

  /** Committed document count of a persisted index: the build's
    * `n_docs` plus the doc count each commit marker records — one
    * listing of `_commits/` and a one-row meta read, never a scan of the
    * index's data. A marker publishes its rows and its count together,
    * so this is exact after any crash (it equals [[lshIndexDocCount]]).
    */
  def lshIndexCommittedDocs(spark: SparkSession, path: String): Long =
    IndexLifecycle.open(spark, path, LshIndex).tally

  /** Committed (visible) document count of a persisted index — counts
    * the verify-hash rows (one per doc) through the marker filter. One
    * narrow-column scan of the index: the check on
    * [[lshIndexCommittedDocs]], not the per-run bookkeeping read.
    */
  def lshIndexDocCount(spark: SparkSession, path: String): Long = {
    val index = IndexLifecycle.open(spark, path, LshIndex)
    IndexLifecycle.visibleRows(
      IndexLifecycle.readDir(spark, index.path("hashes").toString),
      index.committed, index.root).count()
  }

  /** Compact a persisted LSH index IN PLACE: fold every committed append
    * into the base layout, drop invisible rows left by crashed append
    * attempts and fold the commit markers to idempotency tombstones that
    * keep their doc counts — the shared [[IndexLifecycle.compact]]
    * sequence over `bands`, `hashes` and the `fps` sidecar when present.
    * Appends accumulate one file per write (per bucket, for a bucketed
    * index — a year of daily ingest is 365 files/bucket, the classic
    * small-file scan-task explosion); compaction restores one file per
    * bucket (spec-pinned ≤ nb band files) while preserving the bucketed
    * layout, bucket hash family, and meta parameters.
    */
  def lshCompact(spark: SparkSession, path: String,
                 keepAppendIds: Seq[String] = Nil): Unit =
    IndexLifecycle.compact(spark, path, LshIndex, "lshCompact", keepAppendIds)

  /** Cross-corpus near-dup pairs of a fresh batch against a PERSISTED
    * index ([[lshBuild]]) — same output contract as
    * [[minhashLshAgainstPairs]] (id, ref_id, jaccard), but the reference
    * side is two parquet scans: no signature or shingle UDF ever runs
    * over the lake at query time (spec-pinned).
    *
    * Join shape is decided on the MEASURED batch size, not Catalyst
    * estimates (a UDF+explode projection's size estimate is unreliable —
    * see the MERGE rationale in [[NearDupPairs.join]]):
    *  - small batch (band rows ≤ `broadcastMaxBandRows`): broadcast the
    *    BATCH side, so the lake index is a streamed scan with NO shuffle
    *    — the daily-ingest plan at 100 TB (lake bytes never move);
    *  - large batch: hinted sort-merge, spill-safe on both sides — still
    *    strictly cheaper than [[dedupAgainst]], which pays that same
    *    join PLUS the lake's signature recompute. Against an index built
    *    with `bandBuckets > 0` the lake side needs no exchange at all
    *    (bucketed scan satisfies the join's distribution; only the batch
    *    shuffles) — the layout a standing huge-batch pipeline should
    *    build.
    * The 1M-row default gate (~24 MB of band rows) is measured, both
    * ways: at sf10 an 800k-row batch broadcast beat the sort-merge
    * shape 4.9 s vs 9.7 s, while a forced 4M-row broadcast LOST to
    * sort-merge (10.3 s vs 7.7 s) — broadcast build cost overtakes the
    * saved shuffle well before Spark's broadcast limit does (Probe
    * q96index, round 14).
    */
  def minhashLshIndexPairs(df: DataFrame, indexPath: String, textCol: String,
                           idCol: String, threshold: Double = 0.8,
                           broadcastMaxBandRows: Long = 1000000L,
                           excludeAppendIds: Seq[String] = Nil): DataFrame = {
    // appends are visible only through their commit markers (see
    // [[lshAppend]]): the committed set resolves once (driver-side
    // listing) and filters both index scans
    val index = IndexLifecycle.open(df.sparkSession, indexPath, LshIndex,
      excludeAppendIds)
    val numPerm = index.meta.getAs[Int]("num_perm")
    val bands = index.meta.getAs[Int]("bands")
    val shingleK = index.meta.getAs[Int]("shingle_k")
    val base = prepTexts(df, textCol, idCol)
    val batchBands = bandRows(base, numPerm, bands, shingleK)
    // a bucketed index ([[lshBuild]] bandBuckets) reads through its
    // (cached) catalog table so the scan carries the bucket spec: in the
    // sort-merge regime the lake side then needs NO exchange (its
    // HashPartitioning on (band, bucket) already satisfies the join)
    val refBands = index.visible("bands")
    // one cheap count job over the batch (no UDFs) — bands per doc is
    // exactly `bands` for signed docs, so docs × bands bounds the band
    // rows without evaluating the signature
    val shape =
      if (df.count() * bands <= broadcastMaxBandRows) NearDupPairs.BroadcastRight
      else NearDupPairs.Merge
    val joined = NearDupPairs.join(refBands, batchBands, Seq("band", "bucket"), shape)
    // a bucketed-hashes index reads the verify side through its catalog
    // table too: the ref_id join's lake side — the shingle-hash arrays,
    // the index's widest data — then satisfies the join distribution
    // straight off the scan; in the huge-batch regime NO lake bytes
    // move in either stage of this query (plan-pinned)
    NearDupPairs.verify(NearDupPairs.distinctPairs(joined, "id", "ref_id"),
      NearDupPairs.shingleHashes(base, shingleK),
      index.visible("hashes").select("ref_id", "sh"), "id", "ref_id", threshold)
  }

  /** [[dedupAgainst]] through a persisted index: new-batch rows with no
    * verified near-dup in the indexed lake. The ingestion gate a daily
    * pipeline runs — batch-proportional cost, lake bytes never recomputed.
    */
  def dedupAgainstIndex(df: DataFrame, indexPath: String, textCol: String,
                        idCol: String, threshold: Double = 0.8,
                        broadcastMaxBandRows: Long = 1000000L,
                        excludeAppendIds: Seq[String] = Nil): DataFrame = {
    NearDupPairs.dropPairs(df, idCol, minhashLshIndexPairs(df, indexPath, textCol,
      idCol, threshold, broadcastMaxBandRows, excludeAppendIds), "id")
  }

  // ---- simhash --------------------------------------------------------

  /** 64-bit SimHash over word tokens (murmur3-based, deterministic).
    * The native fold, not a UDF chain: bit-identical signatures to the
    * UDF reference (MinHashKernelSpec pins parity; lower/trim stay
    * Catalyst expressions so normalization can't drift), 24-27% faster
    * per corpus pass at sf1/sf10 — the Spark-side split array plus the
    * array→Seq boxed conversion was the delta.
    */
  def simhash(text: Column): Column =
    graft.functions.MinHashSig.simhash64(lower(trim(text)))

  /** Pairs within hamming distance ≤ maxDistance of the 64-bit simhash.
    *
    * Pigeonhole banding: split the signature into `pieces` disjoint bit
    * ranges; a pair differing in ≤ maxDistance BITS differs in ≤
    * maxDistance PIECES, so it matches exactly on some combination of
    * (pieces − maxDistance) pieces. Banding over every such combination
    * (C(pieces, maxDistance) bands) finds ALL qualifying pairs with
    * equi-joins only; the hamming filter removes band false positives.
    *
    * `pieces` trades shuffle volume against bucket selectivity:
    *  - pieces = maxDistance+1 (default): fewest bands (p), but each band
    *    key is only 64/p bits — random collisions grow as n²/2^(64/p),
    *    which for p=4 (16-bit keys) degenerates past ~10⁷ docs.
    *  - wider p (e.g. 8 at d=3): C(8,3)=56 bands of 5 pieces ≈ 40-bit
    *    keys — ~14× the banding shuffle, but bucket collisions stay
    *    negligible past 10⁹ docs. The 100 TB setting.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDistance: Int = 3, pieces: Int = 0): DataFrame = {
    // Null texts are dropped EXPLICITLY (cheap isnotnull(text), pushed
    // to the parquet scan) and the signature is declared non-null via
    // KnownNotNull — simhash of a non-null text is total. Without this,
    // the hamming filter's isnotnull(sig) constraint was inferred and
    // pushed below the repartition as `isnotnull(simhash64(...))`,
    // running the signature kernel TWICE per doc (r19 plan audit,
    // plans/r19/q49_simhash_wide_before.txt). Same rows out: a null
    // text's sig is null and can never pass the hamming filter.
    simhashPairsOnSigs(
      df.filter(col(textCol).isNotNull)
        .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
        .select(col(idCol).as("id"),
          org.apache.spark.sql.GraftColumnShim.column(
            org.apache.spark.sql.catalyst.expressions.KnownNotNull(
              org.apache.spark.sql.GraftColumnShim.expression(
                simhash(col(textCol))))).as("sig")),
      maxDistance, pieces)
  }

  /** As [[simhashPairs]] but over a precomputed `(id, sig)` frame — lets
    * callers compute (and cache) the signature scan once when running
    * several banding configurations over the same corpus (the q49
    * exhaustiveness gate diffs two decompositions; without this the
    * signature UDF would run once per decomposition per diff side).
    */
  def simhashPairsOnSigs(sigs: DataFrame,
                         maxDistance: Int = 3, pieces: Int = 0): DataFrame = {
    val p = if (pieces <= 0) maxDistance + 1 else pieces
    require(p > maxDistance, s"pieces ($p) must exceed maxDistance ($maxDistance)")
    require(p <= 64, "pieces must be <= 64")
    val base = 64 / p
    val rem = 64 % p
    val widths = Array.tabulate(p)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def piece(i: Int): Column =
      shiftright(col("sig"), offsets(i))
        .bitwiseAND(lit(if (widths(i) == 64) -1L else (1L << widths(i)) - 1))
    // every (p - maxDistance)-subset of pieces is one band; the key hashes
    // the selected piece values (a 32-bit hash can only ADD candidates,
    // never lose a qualifying pair — the exact filter below removes them)
    val combos = (0 until p).combinations(p - maxDistance).toSeq
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array(combos.map(c => hash(c.map(piece): _*)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // hamming-filter BEFORE dropDuplicates: band false positives are
    // eliminated in the streamed join output (codegen, no materialization)
    // instead of riding the dedup shuffle — with a skewed piece space the
    // false-positive volume is quadratic in the hot-bucket size and would
    // dominate the shuffle otherwise. Same result: hamming is a pure
    // function of the pair.
    NearDupPairs.selfJoin(banded, Seq("band", "bucket"), "sig")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
  }

  // ---- exact n-gram jaccard (blocked) ---------------------------------

  /** Exact pairwise shingle-Jaccard within a blocking column — the
    * validation / small-candidate-set path. Never call without a blocking
    * key at scale.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: Column, threshold: Double, k: Int = 3): DataFrame = {
    val base = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"),
      blockCol.as("blk"))
    NearDupPairs.selfJoin(base, Seq("blk"), "sh")
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- canonical selection --------------------------------------------

  /** Pick one canonical representative per near-dup cluster: the member
    * with the highest `qualityCol` (ties to the smallest id) — the
    * "keep the best copy" policy that follows pairs→components dedup in
    * a curation pipeline. `components` is [[ConnectedComponents.components]]
    * output (id, component); docs absent from it are untouched
    * singletons and remain implicitly canonical.
    *
    * One shuffle on the component key (a window `row_number`); cluster
    * sizes are near-dup cluster sizes, so skew follows the dup
    * histogram — the same remedy as any hot key applies, and the
    * quality argmax never rejoins text payloads (ids + quality only).
    *
    * @return (id, component, quality, is_canonical)
    */
  def canonicalPerCluster(docs: DataFrame, components: DataFrame,
                          idCol: String, qualityCol: Column): DataFrame = {
    val q = docs.select(col(idCol).cast("long").as("id"),
      qualityCol.cast("double").as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("quality").desc, col("id"))
    components.select(col("id").cast("long").as("id"), col("component"))
      .join(q, "id")
      .withColumn("is_canonical", row_number().over(w) === 1)
  }
}
