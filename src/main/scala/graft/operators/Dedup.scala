package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
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
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String,
                  gateBytes: Long = 32L * 1024 * 1024): DataFrame =
    collidingTextPrefilter(df, textCol, gateBytes)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** [[exactGroups]] for a lake whose INGEST stored the 64-bit content
    * fingerprint (`hashCol` = `xxhash64(textCol)`, written once when the
    * row entered the lake) — the layout answer to exact dedup at 100 TB,
    * the same move as bucketing-at-ingest for joins: the colliding-group
    * probe then reads ONLY the 8-byte fingerprint column (KBs of parquet
    * chunks per million docs — no text decode, no hash compute), and the
    * corpus text is decoded exactly once, in the md5 pass over colliding
    * survivors. Identical output and broadcast/overflow gate as the
    * prefiltered [[exactGroups]] (spec-pinned equal); faithfulness needs
    * only that `hashCol` is a pure function of the text (equal text ⟹
    * equal stored hash), which `xxhash64` at ingest gives by
    * construction. Cost: probe pass ~free, main pass = one text scan —
    * vs the unhashed shape's two full text scans. The same `gateBytes`
    * cost gate applies as in [[exactGroups]]: below it, even a ~free
    * probe pass plus a semi join lose to the single md5 pass (measured
    * 0.17 vs 0.33 s at sf0.1), so tiny inputs skip the prefilter
    * regardless of layout.
    */
  def exactGroupsPrehashed(df: DataFrame, textCol: String, idCol: String,
                           hashCol: String,
                           gateBytes: Long = 32L * 1024 * 1024,
                           broadcastMaxCollidingGroups: Int = 1000000): DataFrame =
    collidingTextPrefilter(df, textCol, gateBytes,
        broadcastMaxCollidingGroups, prehashedCol = Some(hashCol))
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Exact-dup groups with the STORED 64-bit fingerprint as group
    * identity — the DEPLOYMENT form of exact dedup on the
    * hash-at-ingest layout, completing what [[exactGroupsPrehashed]]
    * started: when ingest wrote `hashCol = xxhash64(textCol)` next to
    * the text, dup-group discovery needs NO text at all — one scan of
    * the 8-byte column (parquet prunes every other column) and one
    * narrow-key shuffle. md5, and the full-corpus text decode it
    * forces, is confined to the AUDIT view ([[exactGroupsPrehashed]] /
    * the q98 gate), which oracle-strength output demands but the daily
    * dedup loop does not.
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

  /** Word k-shingles of normalized text; documents shorter than k words
    * yield an empty set (no partial shingles).
    */
  def shingles(text: Column, k: Int = 3): Column = {
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

  /** text → MinHash signature in ONE executor-local pass (tokenize,
    * shingle, hash, permute) with primitive arrays throughout. Building
    * shingles as Spark array columns costs more than the whole LSH join
    * at scale (measured: 5 s of the 9 s pipeline at sf0.1), so the
    * signature path never materializes them.
    */
  private def textSignatureUdf(numPerm: Int, k: Int) = {
    val prime = 4294967311L // > 2^32
    val rnd = new scala.util.Random(42)
    val as = Array.fill(numPerm)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val bs = Array.fill(numPerm)(rnd.nextInt(Int.MaxValue).toLong)
    udf((text: String) => {
      val sh = shingleStrings(text, k)
      if (sh.isEmpty) null
      else {
        val sig = Array.fill(numPerm)(Long.MaxValue)
        var j = 0
        while (j < sh.length) {
          val x = scala.util.hashing.MurmurHash3.stringHash(sh(j), 42).toLong & 0xffffffffL
          var i = 0
          while (i < numPerm) {
            val v = (as(i) * x + bs(i)) % prime
            if (v < sig(i)) sig(i) = v
            i += 1
          }
          j += 1
        }
        sig
      }
    }).withName("minhash_sig") // same display name as the shipped kernel
                               // ([[graft.functions.MinHashSig]], round 18);
                               // this UDF remains as the kernel's spec-pinned
                               // parity reference and the profiling baseline
  }

  /** Per-doc sorted distinct 64-bit shingle hashes — computed ONCE per
    * document so the verify join never re-shingles text per candidate
    * pair (a doc in c candidate pairs would otherwise be re-shingled c
    * times; with dup-heavy corpora c reaches the dup-cluster size).
    * 64-bit hashing keeps Jaccard exact up to a ~2^-64 per-pair collision
    * probability (~10^-9 corpus-wide at 10^5 docs) — the string-set and
    * hashed-set Jaccard agree on every real corpus this runs on.
    */
  private def shingleHashes64Udf(k: Int) = udf((text: String) => {
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

  /** Jaccard of two sorted distinct Long arrays by merge-intersection —
    * O(|a|+|b|), no per-pair set allocation.
    */
  // retained as the parity REFERENCE for the codegen kernel's spec —
  // the hot paths use [[graft.functions.JaccardExpressions.sortedJaccard]]
  // (same semantics, zero per-pair boxing, whole-stage codegen)
  private[graft] val sortedJaccardUdf = udf((a: Seq[Long], b: Seq[Long]) => {
    if (a == null || b == null || a.isEmpty || b.isEmpty) 0.0
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = a.length + b.length - inter
      math.round(inter.toDouble / union * 10000.0) / 10000.0
    }
  })

  /** Kernel accessors for the parity specs — expose the internal kernels
    * without widening the operator API.
    */
  private[graft] def signatureForProfile(numPerm: Int, k: Int) = textSignatureUdf(numPerm, k)
  private[graft] def shingleHashesForProfile(k: Int) = shingleHashes64Udf(k)

  /** (id, __text) projection spread over the session's shuffle
    * parallelism. The signature UDF is the CPU-heaviest stage (numPerm
    * multiplies per shingle); scan partitioning follows file size, which
    * for compressed text may be a handful of partitions — one narrow
    * shuffle of raw text here is amortized over orders of magnitude more
    * signature compute. Shared by the self-join and cross-corpus
    * operators.
    */
  private def prepTexts(src: DataFrame, textCol: String, idCol: String): DataFrame = {
    val par = src.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    src.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(math.max(par, src.rdd.getNumPartitions))
  }

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
      // the native kernel, not the UDF: bit-identical signatures
      // (MinHashKernelSpec pins parity), 21-25% faster per corpus pass
      // at sf1/sf10 — the ScalaUDF wrapper (catalyst↔Scala converters,
      // 128 boxed longs per row on output) was the delta; the UDF stays
      // as the parity reference
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
    *  1. signature: one UDF pass per doc, no intermediate array columns;
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
    val banded = bandRows(base, numPerm, bands, shingleK)
    val left = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    // MERGE: both sides of a band self-join are the whole banded corpus —
    // broadcasting either is categorically wrong, but the size ESTIMATE
    // of a UDF+explode projection can collapse below the broadcast
    // threshold and make the static planner try (observed at sf30: a
    // 1.1 GiB driver collect killed by maxResultSize). SHUFFLE_HASH is
    // wrong at the other end: the per-partition hash build assumes a
    // partition of the banded corpus fits execution memory, and at sf100
    // (5M docs) it failed a 512 MB acquisition with 32 concurrent build
    // tasks. Sort-merge is the only shape with no memory assumption on
    // EITHER side — sorts spill — which is the contract this operator
    // must keep on an unbounded corpus.
    val candidates = left.join(right.hint("MERGE"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // verify on per-doc precomputed sorted shingle-hash arrays: each doc
    // is shingled once total, and the per-pair check is a merge
    // intersection instead of a set build (the old per-pair jaccardUdf
    // re-shingled both texts for every candidate — quadratic in the
    // dup-cluster size on dup-heavy corpora)
    val hashed = base.select(col("id"), shingleHashes64Udf(shingleK)(col("__text")).as("__sh"))
    val ta = hashed.select(col("id").as("id_a"), col("__sh").as("__sh_a"))
    val tb = hashed.select(col("id").as("id_b"), col("__sh").as("__sh_b"))
    candidates.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardExpressions.sortedJaccard(
          col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
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
    val dupIds = minhashLshPairs(df, textCol, idCol, threshold, numPerm, bands)
      .select(col("id_b").as("__drop")).distinct()
    df.join(dupIds, df(idCol) === dupIds("__drop"), "left_anti")
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
    val left = bandRows(base, numPerm, bands, shingleK)
    val right = bandRows(refBase, numPerm, bands, shingleK)
      .withColumnRenamed("id", "ref_id")
    val candidates = left.join(right.hint("MERGE"), Seq("band", "bucket"))
      .select(col("id"), col("ref_id"))
      .dropDuplicates("id", "ref_id")
    val ha = base.select(col("id"), shingleHashes64Udf(shingleK)(col("__text")).as("__sh_a"))
    val hb = refBase.select(col("id").as("ref_id"),
      shingleHashes64Udf(shingleK)(col("__text")).as("__sh_b"))
    candidates.join(ha, "id").join(hb, "ref_id")
      .select(col("id"), col("ref_id"),
        graft.functions.JaccardExpressions.sortedJaccard(
          col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
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
    val dupIds = minhashLshAgainstPairs(df, ref, textCol, idCol, threshold,
      numPerm, bands, shingleK).select(col("id").as("__drop")).distinct()
    df.join(dupIds, df(idCol) === dupIds("__drop"), "left_anti")
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
    val bandsPath = new HPath(root, "bands")
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
      if (bandBuckets > 0) {
        // Bucketed write goes through the catalog (Spark's bucketed layout
        // is a table property, not a parquet one): create the external
        // bucketed table at $path/bands, insert, then drop the catalog
        // entry — files and bucket hashing survive; queries re-register
        // from meta. repartition on the bucket columns first:
        // HashPartitioning here is the same pmod(hash) the bucketed writer
        // assigns files by, so each task holds exactly one bucket's rows —
        // nb files, not tasks × nb.
        writeBucketed(bandData, spark, path, "bands", bandsPath, "_build",
          bandBuckets, Seq("band", "bucket"), fs)
      } else {
        bandData.write.mode("overwrite").parquet(bandsPath.toString)
      }
      val hashesPath = new HPath(root, "hashes")
      val hashData = base.select(col("id").as("ref_id"),
          shingleHashes64Udf(shingleK)(col("__text")).as("sh"))
        .withColumn(AttemptCol, lit(null).cast("string"))
      if (bandBuckets > 0) {
        // bucket the VERIFY hashes on ref_id too (same count): the verify
        // join's lake side — the index's WIDEST data, the shingle-hash
        // arrays — then satisfies its join distribution straight off the
        // scan, so in the huge-batch regime no lake bytes move in EITHER
        // stage of the query (band join pinned since round 15; this
        // closes the hashes join, plan-pinned in OperatorsSpec)
        writeBucketed(hashData, spark, path, "hashes", hashesPath, "_build",
          bandBuckets, Seq("ref_id"), fs)
      } else {
        hashData.write.mode("overwrite").parquet(hashesPath.toString)
      }
      // a REBUILD derives from a fresh lake: the old fingerprint sidecar
      // (if any) describes rows that no longer exist — drop it; the
      // builder re-creates it with [[lshWriteFingerprints]]
      fs.delete(new HPath(root, "fps"), true): Unit
      // a rebuild may change the bucket count or schema under a standing
      // catalog registration — drop it; the next bucketed read re-registers
      registerLock.synchronized {
        spark.sql(s"DROP TABLE IF EXISTS ${bandsTableName(spark, path)}")
        spark.sql(s"DROP TABLE IF EXISTS ${hashesTableName(spark, path)}")
        spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(spark, path, "fps")}"): Unit
      }
      // footer-only count of what was actually written — the doc tally a
      // reuse guard can check without re-reading data pages
      val nDocs = IndexLifecycle.readDir(spark, hashesPath.toString).count()
      writeIndexMeta(spark, root.toString, numPerm, bands, shingleK, nDocs,
        bandBuckets, hb = bandBuckets)
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
    * rows and shingle hashes, and rewrites the one-row meta (parameters
    * are re-read FROM the index, so the hash family cannot drift; the
    * refreshed `n_docs` counts committed docs only). Equivalence
    * contract, spec-pinned pair-for-pair: `build(lake); append(b)`
    * answers every query identically to `build(lake ∪ b)` — band rows
    * and hashes are deterministic per doc, so layout is the only
    * difference. Appending a doc id already in the index duplicates its
    * band rows (candidates dedup, but the verify join would emit two
    * rows) — the contract is append ACCEPTED (novel) docs, one logical
    * writer at a time (retries of that writer are fine, below). The
    * one-writer half is ENFORCED, not narrated: every writer op takes a
    * best-effort lease ([[IndexLifecycle.withWriterLock]]), so a second
    * concurrent append/compact/rebuild fails loudly instead of
    * interleaving — two loops racing one index could otherwise each
    * accept the same near-dup with no error anywhere.
    *
    * CRASH SAFETY AND RETRIES. Every append writes its rows tagged with
    * a fresh attempt id, then publishes them with ONE atomic marker
    * rename under `_commits/` — data first, marker last. Readers resolve
    * visibility through the markers ([[IndexLifecycle.visibleRows]]), so:
    *  - a crash anywhere before the marker rename leaves the index
    *    answering queries exactly as before the append (a partial write
    *    can never surface band rows without their verify hashes — the
    *    silent-missed-dup failure an unguarded append had);
    *  - re-running an append with the SAME `appendId` after a committed
    *    one is a NO-OP (the marker already exists), which makes
    *    at-least-once drivers — Structured Streaming's `foreachBatch`
    *    retrying a micro-batch — idempotent: key the id on the batch id
    *    (see [[graft.streaming.DocsStream.runIndexDedupLoopAsStream]]);
    *  - a crashed attempt's rows are invisible garbage until
    *    [[lshCompact]] rewrites them away.
    * With `appendId = None` a random id is used: still crash-safe
    * (all-or-nothing), but each completed call is a distinct append —
    * callers that may retry MUST pass a stable id.
    *
    * The refreshed meta tally is INCREMENTAL — committed `n_docs` from
    * meta plus this batch's row count, observed on the hashes write (no
    * job of its own) — so the append never scans the index's own data
    * (spec-pinned by bytes-read assertion): at a 10⁹-doc lake even a
    * single-column recount would have been the append's dominant
    * term. A crash between the marker rename and the meta rewrite
    * leaves `n_docs` stale by one batch; queries are unaffected
    * (visibility is the markers', not the tally's), [[lshIndexDocCount]]
    * still answers exactly, and the next [[lshCompact]] — whose rewrite
    * scans everything anyway — recounts and repairs it.
    */
  def lshAppend(accepted: DataFrame, textCol: String, idCol: String,
                path: String, appendId: Option[String] = None): Unit = {
    val spark = accepted.sparkSession
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val id = appendId.getOrElse(java.util.UUID.randomUUID().toString)
    IndexLifecycle.validateAppendId(id)
    // the committed-marker no-op sits BEFORE the writer lock: a restarted
    // at-least-once driver replaying finished batches is never refused
    if (fs.exists(IndexLifecycle.markerPath(root, id)))
      return // already committed — idempotent no-op
    IndexLifecycle.withWriterLock(fs, root, "lshAppend",
        IndexLifecycle.lockTtlMs(spark)) {
      // everything below happens UNDER the lease: swap-window recovery
      // mutates index dirs (it must never race a live compact's
      // two-rename window), and the meta parameters decide the batch's
      // hash family — values read before acquisition could be a
      // concurrent rebuild's stale predecessors, silently signing the
      // batch with the wrong family
      recoverIndexDirs(fs, root)
      val meta = readIndexMeta(spark, root)
      val numPerm = meta.getAs[Int]("num_perm")
      val bands = meta.getAs[Int]("bands")
      val shingleK = meta.getAs[Int]("shingle_k")
      val nb = meta.getAs[Int]("band_buckets")
      val hb = meta.getAs[Int]("hash_buckets")
      val bandsPath = new HPath(root, "bands")
      val hashesPath = new HPath(root, "hashes")
      // layout probe: refuse data rows without the attempt tag before
      // anything is written
      IndexLifecycle.requireLayout(root, "bands",
        IndexLifecycle.readDir(spark, bandsPath.toString).columns.toSeq, AttemptCol)
      val attempt = java.util.UUID.randomUUID().toString
      val base = prepTexts(accepted, textCol, idCol)
      val newBands = bandRows(base, numPerm, bands, shingleK)
        .withColumnRenamed("id", "ref_id")
        .withColumn(AttemptCol, lit(attempt))
        .select("ref_id", "band", "bucket", AttemptCol)
      if (nb > 0) {
        // insertInto the re-registered bucketed table: the bucketed writer
        // hashes (band, bucket) with the same family as the build, so
        // appended files land in the right buckets; a bucket accumulates
        // one file per append (Spark groups them by bucket id at scan —
        // [[lshCompact]] folds the accumulation back to one per bucket).
        val t = registerBandsTable(spark, path, nb)
        newBands.repartition(nb, col("band"), col("bucket"))
          .write.mode("append").insertInto(t)
      } else {
        newBands.write.mode("append").parquet(bandsPath.toString)
      }
      val newHashes = base.select(col("id").as("ref_id"),
          shingleHashes64Udf(shingleK)(col("__text")).as("sh"))
        .withColumn(AttemptCol, lit(attempt))
      // the batch's row count, observed on this write: one hashes row
      // per accepted doc, so it is the meta tally's increment
      val nNew = IndexLifecycle.countedWrite(newHashes) { h =>
        if (hb > 0) {
          val t = registerHashesTable(spark, path, hb)
          h.repartition(hb, col("ref_id"))
            .write.mode("append").insertInto(t)
        } else {
          h.write.mode("append").parquet(hashesPath.toString)
        }
      }
      // an index with a fingerprint sidecar ([[lshWriteFingerprints]])
      // extends it with the batch's fps UNDER THE SAME MARKER — the
      // sidecar can never drift from the band/hash rows (all-or-nothing
      // per append, retries no-op together)
      val fpsPath = new HPath(root, "fps")
      if (fs.exists(fpsPath)) {
        val newFps = accepted.select(xxhash64(col(textCol)).as("fp"))
          .withColumn(AttemptCol, lit(attempt))
        if (hb > 0) {
          newFps.repartition(hb, col("fp")).write.mode("append")
            .insertInto(registerIndexTable(spark, path, "fps", hb, Seq("fp")))
        } else {
          newFps.write.mode("append").parquet(fpsPath.toString)
        }
      }
      // COMMIT: atomic marker publish (data first, marker last) — see
      // [[IndexLifecycle.commitMarker]]
      IndexLifecycle.commitMarker(fs, root, id, attempt)
      // incremental tally: committed n_docs + this batch's observed
      // count — never a scan of the index's own data
      writeIndexMeta(spark, root.toString, numPerm, bands, shingleK,
        meta.getAs[Long]("n_docs") + nNew, nb, hb)
    }
  }

  /** The columns of an LSH index's one-row `meta`, in write order. */
  private val MetaCols =
    Seq("num_perm", "bands", "shingle_k", "n_docs", "band_buckets", "hash_buckets")

  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String, numPerm: Int, bands: Int,
                             shingleK: Int, nDocs: Long, nb: Int,
                             hb: Int): Unit = {
    import spark.implicits._
    Seq((numPerm, bands, shingleK, nDocs, nb, hb)).toDF(MetaCols: _*)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The index's meta row; one missing any of [[MetaCols]] fails with
    * [[UnsupportedIndexLayoutException]].
    */
  private def readIndexMeta(spark: SparkSession, root: HPath): org.apache.spark.sql.Row = {
    val meta = IndexLifecycle.readMeta(spark, new HPath(root, "meta").toString)
    IndexLifecycle.requireLayout(root, "meta", meta.schema.fieldNames.toSeq, MetaCols: _*)
    meta
  }

  /** Index-open repair: restore either data dir from a compact that
    * crashed inside its swap window (see [[IndexLifecycle.recoverSwap]]).
    */
  private def recoverIndexDirs(fs: FileSystem, root: HPath): Unit = {
    IndexLifecycle.recoverSwap(fs, new HPath(root, "bands"))
    IndexLifecycle.recoverSwap(fs, new HPath(root, "hashes"))
    IndexLifecycle.recoverSwap(fs, new HPath(root, "fps"))
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
    val meta = readIndexMeta(spark, root)
    val hb = meta.getAs[Int]("hash_buckets")
    val fpsPath = new HPath(root, "fps")
    val data = ref.select(xxhash64(col(textCol)).as("fp"))
      .withColumn(AttemptCol, lit(null).cast("string"))
    IndexLifecycle.withWriterLock(fs, root, "lshWriteFingerprints",
        IndexLifecycle.lockTtlMs(spark)) {
      if (hb > 0) {
        writeBucketed(data, spark, path, "fps", fpsPath, "_build", hb,
          Seq("fp"), fs)
      } else {
        data.write.mode("overwrite").parquet(fpsPath.toString)
      }
      registerLock.synchronized {
        spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(spark, path, "fps")}"): Unit
      }
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
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val fpsPath = new HPath(root, "fps")
    IndexLifecycle.recoverSwap(fs, fpsPath)
    require(fs.exists(fpsPath),
      s"index at $path has no fingerprint sidecar — run " +
        "lshWriteFingerprints(lake, textCol, path) once after the build")
    val meta = readIndexMeta(spark, root)
    val hb = meta.getAs[Int]("hash_buckets")
    IndexLifecycle.visibleRows(
      if (hb > 0) spark.table(registerIndexTable(spark, path, "fps", hb, Seq("fp")))
      else IndexLifecycle.readDir(spark, fpsPath.toString),
      IndexLifecycle.committedAttempts(fs, root, excludeAppendIds), root)
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

  /** The meta tally `n_docs` — maintained INCREMENTALLY by appends and
    * recounted by build/compact, so reading it costs one one-row parquet
    * read, never a scan of the index's data. This is the count a
    * standing loop should bracket its runs with; it can lag the true
    * committed count by one batch after a crash between an append's
    * marker commit and its meta rewrite (the next [[lshCompact]]
    * reconciles — and [[lshIndexDocCount]] recounts exactly on demand).
    */
  def lshIndexCommittedDocs(spark: SparkSession, path: String): Long = {
    val (_, root) = IndexLifecycle.fsFor(spark, path)
    readIndexMeta(spark, root).getAs[Long]("n_docs")
  }

  /** Committed (visible) document count of a persisted index — counts
    * the verify-hash rows (one per doc) through the marker filter, so it
    * is correct even when a crash left `meta`'s tally stale. One
    * narrow-column scan of the index — the exact RECONCILER, not the
    * per-run bookkeeping read (that is [[lshIndexCommittedDocs]]).
    */
  def lshIndexDocCount(spark: SparkSession, path: String): Long = {
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    recoverIndexDirs(fs, root)
    IndexLifecycle.visibleRows(IndexLifecycle.readDir(spark, new HPath(root, "hashes").toString),
      IndexLifecycle.committedAttempts(fs, root), root).count()
  }

  /** Compact a persisted LSH index IN PLACE: fold every committed append
    * into the base layout, drop invisible rows left by crashed append
    * attempts, fold the commit markers to empty idempotency tombstones
    * (a folded appendId still no-ops on retry), and refresh the meta
    * tally.
    * Appends accumulate one file per write (per bucket, for a bucketed
    * index — a year of daily ingest is 365 files/bucket, the classic
    * small-file scan-task explosion); compaction restores one file per
    * bucket (spec-pinned ≤ nb band files) while preserving the bucketed
    * layout, bucket hash family, and meta parameters.
    *
    * The visible row set is identical before and after (spec-pinned
    * pair-for-pair), so query results cannot change. Offline maintenance
    * op — one writer (lease-enforced, [[IndexLifecycle.withWriterLock]]),
    * no concurrent readers. Crash ordering: the
    * rewrites land in `.compact` side dirs first (originals untouched);
    * each dir then swaps in via two renames (live → `.old`, compact →
    * live); markers are folded only after BOTH swaps, so a crash
    * between them leaves a consistent index (the un-swapped side still
    * resolves its appends through the markers, the swapped side already
    * folded them to base rows — same logical set). A crash INSIDE a
    * swap window is recoverable from the `.old` dir it leaves behind.
    * On stores without atomic rename (S3-style), the swap is
    * copy-backed — the same offline-op caveat applies as for any
    * rename-based layout maintenance there.
    */
  def lshCompact(spark: SparkSession, path: String,
                 keepAppendIds: Seq[String] = Nil): Unit = {
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    IndexLifecycle.withWriterLock(fs, root, "lshCompact",
        IndexLifecycle.lockTtlMs(spark)) {
      recoverIndexDirs(fs, root)
      val meta = readIndexMeta(spark, root)
      val numPerm = meta.getAs[Int]("num_perm")
      val bands = meta.getAs[Int]("bands")
      val shingleK = meta.getAs[Int]("shingle_k")
      val nb = meta.getAs[Int]("band_buckets")
      val hb = meta.getAs[Int]("hash_buckets")
      // appends named in keepAppendIds are carried through UNFOLDED —
      // rows keep their attempt tag, markers their payload — so the
      // streaming rewrite loops' replay-determinism hook
      // (excludeAppendIds of a batch whose marker committed before the
      // stream's checkpoint commit) survives a compact; see
      // [[UnitStore.compact]] for the full rationale
      val committed = IndexLifecycle.committedAttempts(fs, root, keepAppendIds)
      val keptAttempts = IndexLifecycle.committedAttemptsOf(fs, root, keepAppendIds)
      def visible(sub: String): DataFrame = {
        val raw = IndexLifecycle.readDir(spark, new HPath(root, sub).toString)
        val base = IndexLifecycle.visibleRows(raw, committed, root)
          .withColumn(AttemptCol, lit(null).cast("string"))
        if (keptAttempts.isEmpty) base
        else base.unionByName(
          raw.filter(col(AttemptCol).isin(keptAttempts: _*)))
      }
      val bandsLive = new HPath(root, "bands")
      val bandsNew = new HPath(root, "bands.compact")
      val hashesLive = new HPath(root, "hashes")
      val hashesNew = new HPath(root, "hashes.compact")
      fs.delete(bandsNew, true): Unit
      fs.delete(hashesNew, true): Unit
      val bandData = visible("bands").select("ref_id", "band", "bucket", AttemptCol)
      if (nb > 0) {
        writeBucketed(bandData, spark, path, "bands", bandsNew, "_compact",
          nb, Seq("band", "bucket"), fs)
      } else {
        // unbucketed: the rewrite's input partitioning bin-packs the small
        // append files (spark.sql.files.maxPartitionBytes), so the output
        // lands as few right-sized files without an extra shuffle
        bandData.write.parquet(bandsNew.toString)
      }
      val hashData = visible("hashes").select("ref_id", "sh", AttemptCol)
      if (hb > 0) {
        writeBucketed(hashData, spark, path, "hashes", hashesNew, "_compact",
          hb, Seq("ref_id"), fs)
      } else {
        hashData.write.parquet(hashesNew.toString)
      }
      // the fingerprint sidecar, when present, folds with the rest —
      // same visibility filter, same swap ordering
      val fpsLive = new HPath(root, "fps")
      val fpsNew = new HPath(root, "fps.compact")
      val hasFps = fs.exists(fpsLive)
      if (hasFps) {
        fs.delete(fpsNew, true): Unit
        val fpData = visible("fps").select("fp", AttemptCol)
        if (hb > 0) {
          writeBucketed(fpData, spark, path, "fps", fpsNew, "_compact",
            hb, Seq("fp"), fs)
        } else {
          fpData.write.parquet(fpsNew.toString)
        }
      }
      IndexLifecycle.swapDir(fs, bandsLive, bandsNew)
      IndexLifecycle.swapDir(fs, hashesLive, hashesNew)
      if (hasFps) IndexLifecycle.swapDir(fs, fpsLive, fpsNew)
      // FOLD the commit markers to empty tombstones instead of deleting
      // them: an appendId marker is also the idempotency record, and an
      // at-least-once driver can replay a batch whose append committed
      // BEFORE this compact (crash between the compact and the stream's
      // checkpoint commit) — deleting its marker would let the replay
      // re-append the already-folded rows. An empty marker means
      // "committed and folded": [[lshAppend]]'s exists-check still
      // no-ops on it, while [[IndexLifecycle.committedAttempts]] skips its (gone)
      // attempt id. A year of daily ingest retains 365 empty files —
      // the append log, negligible next to the data it describes.
      IndexLifecycle.foldMarkers(fs, root, keep = keepAppendIds.toSet)
      // the standing catalog registrations' cached file listings are stale
      // after the swap — drop them; the next bucketed read re-registers
      registerLock.synchronized {
        spark.sql(s"DROP TABLE IF EXISTS ${bandsTableName(spark, path)}")
        spark.sql(s"DROP TABLE IF EXISTS ${hashesTableName(spark, path)}")
        spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(spark, path, "fps")}"): Unit
      }
      val nDocs = IndexLifecycle.readDir(spark, hashesLive.toString).count()
      writeIndexMeta(spark, root.toString, numPerm, bands, shingleK, nDocs,
        nb, hb)
    }
  }

  /** Deterministic catalog name for an index's bucketed data table —
    * derived from the fully-qualified URI so re-registration is
    * idempotent per index, two indexes never collide in one session's
    * catalog, and the same index addressed through different spellings
    * of one URI resolves to one name.
    */
  private[operators] def indexTableName(spark: SparkSession, path: String,
                             sub: String): String = {
    val q = IndexLifecycle.fsFor(spark, path)._2.toString
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(q))
    s"graft_lsh_${sub}_$h"
  }
  private def bandsTableName(spark: SparkSession, path: String): String =
    indexTableName(spark, path, "bands")
  private def hashesTableName(spark: SparkSession, path: String): String =
    indexTableName(spark, path, "hashes")

  private[operators] val registerLock = new Object

  /** Create an external bucketed parquet catalog entry with `schema`
    * VERBATIM, through the [[org.apache.spark.sql.catalyst.catalog.SessionCatalog]]
    * API (DDL round-trips and CTAS both normalize the schema on the way
    * through — `asNullable`, type-string re-parse).
    */
  private def createCatalogEntry(spark: SparkSession, name: String,
                                 loc: java.net.URI,
                                 schema: org.apache.spark.sql.types.StructType,
                                 nb: Int, bucketCols: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.catalog._
    spark.sessionState.catalog.createTable(
      CatalogTable(
        identifier = org.apache.spark.sql.catalyst.TableIdentifier(name),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(locationUri = Some(loc)),
        schema = schema,
        provider = Some("parquet"),
        bucketSpec = Some(BucketSpec(nb, bucketCols, bucketCols))),
      ignoreIfExists = false)
  }

  /** Bucketed write of an index data dir at `dest` via create-then-insert
    * on a throwaway catalog entry (see [[createCatalogEntry]] for why not
    * CTAS): rows land pre-partitioned on the bucket columns — the same
    * pmod(hash) the bucketed writer assigns files by, so each task holds
    * exactly one bucket's rows (nb files, not tasks × nb) — and sorted
    * within buckets per the table's sort spec.
    */
  private[operators] def writeBucketed(df: DataFrame, spark: SparkSession, path: String,
                            sub: String, dest: HPath, suffix: String,
                            nb: Int, bucketCols: Seq[String],
                            fs: FileSystem): Unit = {
    val tmp = indexTableName(spark, path, sub) + suffix
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    fs.delete(dest, true): Unit
    createCatalogEntry(spark, tmp, dest.toUri, df.schema, nb, bucketCols)
    // insertInto resolves POSITIONALLY — safe because the entry's schema
    // is df's own
    df.repartition(nb, bucketCols.map(col): _*).write.insertInto(tmp)
    spark.sql(s"DROP TABLE $tmp")
  }

  /** Ensure the session catalog carries the external bucketed table for
    * one of an index's data dirs, REUSING a live registration when its
    * location, bucket spec, AND schema already match — the common case:
    * a streaming loop queries the same index every micro-batch, and the
    * old DROP+CREATE-per-call both churned the catalog and let two
    * concurrent readers race (one's DROP between the other's
    * registration and its scan planning). The schema is re-derived from
    * the dir's parquet footers on every call (one driver-side footer
    * read — the price the old per-call CREATE paid too), so an index
    * rewritten out-of-band by another process — same bucket count,
    * different column types, e.g. a rebuild over STRING ids replacing
    * one over BIGINT ids — invalidates the cached entry instead of being
    * scanned through a stale schema. Re-creates on absence or any mismatch
    * (rebuild and compact also drop the entry themselves), and the
    * check-then-create is synchronized JVM-wide, which covers every
    * session of this driver (the table catalog is shared state).
    *
    * Registration goes through the [[org.apache.spark.sql.catalyst.catalog.SessionCatalog]]
    * API with the parquet-derived [[org.apache.spark.sql.types.StructType]]
    * verbatim — a DDL `CREATE TABLE` round-trip would re-parse the
    * schema through its type-string grammar instead of storing what the
    * footers actually say.
    */
  private[operators] def registerIndexTable(spark: SparkSession, path: String,
                                 sub: String, nb: Int,
                                 bucketCols: Seq[String]): String = {
    val name = indexTableName(spark, path, sub)
    val loc = new HPath(IndexLifecycle.fsFor(spark, path)._2, sub)
    // the on-disk schema derivation (a directory listing + one footer
    // read) happens OUTSIDE the lock: it is the slow part on object
    // stores, and serializing it JVM-wide would make every concurrent
    // reader queue behind every other's listing; the lock only needs to
    // cover the check-then-create on the shared catalog
    val onDisk = IndexLifecycle.readDir(spark, loc.toString).schema
    registerLock.synchronized {
      def sig(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).toSeq
      val live = spark.catalog.tableExists(name) && {
        val t = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(name))
        t.storage.locationUri.exists(u => new HPath(u).toString == loc.toString) &&
          t.bucketSpec.exists(b => b.numBuckets == nb &&
            b.bucketColumnNames == bucketCols) &&
          sig(t.schema) == sig(onDisk)
      }
      if (!live) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        createCatalogEntry(spark, name, loc.toUri, onDisk, nb, bucketCols)
      }
      name
    }
  }
  private def registerBandsTable(spark: SparkSession, path: String,
                                 nb: Int): String =
    registerIndexTable(spark, path, "bands", nb, Seq("band", "bucket"))
  private def registerHashesTable(spark: SparkSession, path: String,
                                  hb: Int): String =
    registerIndexTable(spark, path, "hashes", hb, Seq("ref_id"))

  /** Cross-corpus near-dup pairs of a fresh batch against a PERSISTED
    * index ([[lshBuild]]) — same output contract as
    * [[minhashLshAgainstPairs]] (id, ref_id, jaccard), but the reference
    * side is two parquet scans: no signature or shingle UDF ever runs
    * over the lake at query time (spec-pinned).
    *
    * Join shape is decided on the MEASURED batch size, not Catalyst
    * estimates (a UDF+explode projection's size estimate is unreliable —
    * see the MERGE rationale in [[minhashLshPairs]]):
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
    * q96index, round 14). The verify joins are left unhinted:
    * candidates are an AQE-visible shuffle output, so the runtime picks
    * broadcast when the candidate set is genuinely small and a shuffled
    * join when not.
    */
  def minhashLshIndexPairs(df: DataFrame, indexPath: String, textCol: String,
                           idCol: String, threshold: Double = 0.8,
                           broadcastMaxBandRows: Long = 1000000L,
                           excludeAppendIds: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val (fs, root) = IndexLifecycle.fsFor(spark, indexPath)
    recoverIndexDirs(fs, root)
    val meta = readIndexMeta(spark, root)
    val numPerm = meta.getAs[Int]("num_perm")
    val bands = meta.getAs[Int]("bands")
    val shingleK = meta.getAs[Int]("shingle_k")
    val nb = meta.getAs[Int]("band_buckets")
    // appends are visible only through their commit markers (see
    // [[lshAppend]]): resolve the committed set once (driver-side
    // listing) and filter both index scans through it
    val committed = IndexLifecycle.committedAttempts(fs, root, excludeAppendIds)
    val base = prepTexts(df, textCol, idCol)
    val batchBands = bandRows(base, numPerm, bands, shingleK)
    // a bucketed index ([[lshBuild]] bandBuckets) reads through its
    // (cached) catalog table so the scan carries the bucket spec: in the
    // sort-merge regime the lake side then needs NO exchange (its
    // HashPartitioning on (band, bucket) already satisfies the join)
    val refBands = IndexLifecycle.visibleRows(
      if (nb > 0) spark.table(registerBandsTable(spark, indexPath, nb))
      else IndexLifecycle.readDir(spark, new HPath(root, "bands").toString), committed, root)
    // one cheap count job over the batch (no UDFs) — bands per doc is
    // exactly `bands` for signed docs, so docs × bands bounds the band
    // rows without evaluating the signature
    val batchBandRows = df.count() * bands
    val joined =
      if (batchBandRows <= broadcastMaxBandRows)
        refBands.join(broadcast(batchBands), Seq("band", "bucket"))
      else refBands.join(batchBands.hint("MERGE"), Seq("band", "bucket"))
    val candidates = joined.select(col("id"), col("ref_id"))
      .dropDuplicates("id", "ref_id")
    val ha = base.select(col("id"),
      shingleHashes64Udf(shingleK)(col("__text")).as("__sh_a"))
    // a bucketed-hashes index reads the verify side through its catalog
    // table too: the ref_id join's lake side — the shingle-hash arrays,
    // the index's widest data — then satisfies the join distribution
    // straight off the scan; in the huge-batch regime NO lake bytes
    // move in either stage of this query (plan-pinned)
    val hbuckets = meta.getAs[Int]("hash_buckets")
    val hb = IndexLifecycle.visibleRows(
        if (hbuckets > 0) spark.table(registerHashesTable(spark, indexPath, hbuckets))
        else IndexLifecycle.readDir(spark, new HPath(root, "hashes").toString), committed, root)
      .select(col("ref_id"), col("sh").as("__sh_b"))
    candidates.join(ha, "id").join(hb, "ref_id")
      .select(col("id"), col("ref_id"),
        graft.functions.JaccardExpressions.sortedJaccard(
          col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[dedupAgainst]] through a persisted index: new-batch rows with no
    * verified near-dup in the indexed lake. The ingestion gate a daily
    * pipeline runs — batch-proportional cost, lake bytes never recomputed.
    */
  def dedupAgainstIndex(df: DataFrame, indexPath: String, textCol: String,
                        idCol: String, threshold: Double = 0.8,
                        broadcastMaxBandRows: Long = 1000000L,
                        excludeAppendIds: Seq[String] = Nil): DataFrame = {
    val dupIds = minhashLshIndexPairs(df, indexPath, textCol, idCol,
      threshold, broadcastMaxBandRows, excludeAppendIds)
      .select(col("id").as("__drop")).distinct()
    df.join(dupIds, df(idCol) === dupIds("__drop"), "left_anti")
  }

  // ---- simhash --------------------------------------------------------

  /** 64-bit SimHash over word tokens (murmur3-based, deterministic). */
  private val simhashUdf = udf((words: Seq[String]) => {
    val acc = new Array[Int](64)
    words.foreach { w =>
      // two 32-bit murmur-ish hashes combined to 64 bits, seeded
      val h1 = scala.util.hashing.MurmurHash3.stringHash(w, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(w, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
    sig
  })

  // the native fold, not the UDF chain: bit-identical signatures
  // (MinHashKernelSpec pins parity; lower/trim stay Catalyst
  // expressions so normalization can't drift), 24-27% faster per
  // corpus pass at sf1/sf10 — the Spark-side split array plus the
  // array→Seq boxed conversion was the delta. The UDF below stays as
  // the parity reference.
  def simhash(text: Column): Column =
    graft.functions.MinHashSig.simhash64(lower(trim(text)))
  private[graft] def simhashUdfForParity(text: Column): Column =
    simhashUdf(split(lower(trim(text)), "\\s+"))

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
    // spread the signature UDF over the session parallelism (see
    // minhashLshPairs — same few-input-partitions hazard)
    val par = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
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
        .repartition(math.max(par, df.rdd.getNumPartitions))
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
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    // hamming-filter BEFORE dropDuplicates: band false positives are
    // eliminated in the streamed join output (codegen, no materialization)
    // instead of riding the dedup shuffle — with a skewed piece space the
    // false-positive volume is quadratic in the hot-bucket size and would
    // dominate the shuffle otherwise. Same result: hamming is a pure
    // function of the pair.
    // MERGE for the same reason as minhashLshPairs' band join: a
    // symmetric corpus-scale self-join must never broadcast (the sf30
    // maxResultSize failure was THIS join) and must not assume a
    // partition's hash build fits memory (the sf100 shuffle-hash
    // acquisition failure was also this join) — sort-merge spills.
    l.join(r.hint("MERGE"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
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
    val a = base.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    // symmetric self-join: never broadcast, never assume the hash build
    // fits memory (see minhashLshPairs) — sort-merge spills
    a.join(b.hint("MERGE"), Seq("blk")).filter(col("id_a") < col("id_b"))
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
