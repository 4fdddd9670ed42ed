package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`/`array<double>`).
  *
  * Scale design:
  *  - bruteForceTopK: exact baseline — one codegen'd pass (HOF dot
  *    product, no UDF) + TakeOrdered; the query vector broadcasts as a
  *    literal. O(N·d), embarrassingly parallel.
  *  - Random-hyperplane LSH: 100 TB path. Signatures computed
  *    executor-local from seeded hyperplanes (identical on every
  *    executor, no shared state); table-probing is an equi-join on
  *    (table, signature) — candidates per bucket are bounded, so the
  *    verify step never goes quadratic. `cosineNearDupPairs` is the
  *    embedding near-dup dedup entry.
  */
object SimilaritySearch {

  /** Codegen'd fused dot+norms loop — see
    * [[graft.functions.CosineSimExpr]]; the HOF spelling
    * (`aggregate(zip_with(...))`) evaluates its lambda interpreted,
    * per-element, and dominated the brute-force path.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSim(a, b)

  /** Exact top-k by cosine against one query vector. */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
                     query: Array[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol),
      round(cosine(col(embCol).cast("array<double>"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic seeded hyperplanes: nBits×dim gaussians. */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Each table's seeded hyperplanes, table `t` seeded `seed + t`. */
  private[graft] def hyperplanesFor(nBits: Int, nTables: Int, dim: Int,
                                    seed: Long): Array[Array[Array[Double]]] =
    (0 until nTables).map(t => hyperplanes(nBits, dim, seed + t)).toArray

  /** Add `nTables` LSH bucket columns (exploded long form: one row per
    * (id, table, sig)). Signatures come from the native all-tables
    * kernel — one pass over the raw array primitives instead of one
    * boxed-Seq UDF call per table (bit parity spec-pinned; 2.19→0.24 s
    * at sf1 and 12.81→0.92 s at sf10 per corpus pass — 9–14×, the
    * per-table Seq[Double] conversions dominated; SCALE.md round 18).
    */
  def lshBuckets(df: DataFrame, embCol: String, idCol: String,
                 nBits: Int = 12, nTables: Int = 4, dim: Int = 64,
                 seed: Long = 7L): DataFrame = {
    val planes = hyperplanesFor(nBits, nTables, dim, seed)
    val v = col(embCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("v"),
        posexplode(graft.functions.VectorExpressions.hyperplaneSigs(v, planes)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "sig")
  }

  /** ANN top-k: probe the query's buckets across tables, verify exact
    * cosine on candidates only.
    *
    * `multiprobe` additionally probes every bucket within hamming distance
    * ≤ multiprobe of the query's signature in each table — the standard
    * multi-probe LSH trick: recall that would need 4× the tables comes
    * from C(nBits, ≤m) extra probes of the SAME index, so the indexed data
    * volume (rows × tables) stays fixed. The probe set is a driver-side
    * literal predicate (≤ nTables · C(nBits, ≤m) entries), never a join.
    *
    * @param scale decimal places for the reported cosine
    */
  def annTopK(df: DataFrame, embCol: String, idCol: String,
              query: Array[Double], k: Int,
              nBits: Int = 12, nTables: Int = 4, seed: Long = 7L,
              multiprobe: Int = 0, scale: Int = 6): DataFrame = {
    val dim = query.length
    val buckets = lshBuckets(df, embCol, idCol, nBits, nTables, dim, seed)
    val planes = (0 until nTables).map(t => hyperplanes(nBits, dim, seed + t))
    val querySigs = planes.zipWithIndex.map { case (ps, t) =>
      var sig = 0
      ps.zipWithIndex.foreach { case (p, i) =>
        if (p.zip(query).map { case (a, b) => a * b }.sum > 0) sig |= (1 << i)
      }
      (t, sig)
    }
    // expand each table's signature to its hamming-ball of radius `multiprobe`
    val flips: Seq[Int] = (0 to multiprobe).flatMap(m =>
      (0 until nBits).combinations(m).map(_.foldLeft(0)((acc, b) => acc | (1 << b))))
    val probe = querySigs.map { case (t, s) =>
      col("table") === t && col("sig").isin(flips.map(s ^ _).distinct: _*)
    }.reduce(_ || _)
    val q = typedLit(query)
    buckets.filter(probe)
      .select(col("id"), col("v")).dropDuplicates("id")
      .select(col("id"), round(cosine(col("v"), q), scale).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  // ---- int8 scalar quantization ----------------------------------------

  /** Per-vector int8 scalar quantization: codes = floor(v/s + 0.5) with
    * s = max|v|/127 — 4× smaller than float32 (16× vs float64) per
    * stored vector, which at 100 TB is the difference between an index
    * that fits the cluster's memory/bandwidth and one that doesn't.
    * COSINE IS SCALE-INVARIANT, so quantized cosine needs no
    * dequantization: cos(codes_a, codes_b) ≈ cos(a, b) to ~1e-3.
    * The floor(x+0.5) form (not `round`) is deliberate: identical
    * semantics in every engine for negative midpoints, so the codes are
    * reproducible anywhere. One-time ingest pass (HOF lambdas here are
    * interpreted — fine off the query hot path; queries run on the
    * codegen'd cosine over the cast code arrays).
    *
    * @return (idCol, qcodes: array<tinyint>, qscale: double)
    */
  def quantize(df: DataFrame, embCol: String, idCol: String): DataFrame = {
    val v = col(embCol).cast("array<double>")
    df.select(col(idCol), v.as("__v"))
      .withColumn("qscale",
        greatest(aggregate(transform(col("__v"), x => abs(x)), lit(0.0),
          (acc, x) => greatest(acc, x)) / 127.0, lit(1e-30)))
      .select(col(idCol),
        transform(col("__v"), x => floor(x / col("qscale") + 0.5).cast("tinyint"))
          .as("qcodes"),
        col("qscale"))
  }

  /** Top-k by int8-quantized cosine with exact rescoring: rank the
    * corpus on the quantized codes (the bandwidth-cheap pass), take a
    * `pool`-sized candidate set, then re-rank those few by exact cosine
    * on the original vectors. With pool ≥ 2k the quantization error
    * (~1e-3 in cosine) is far below candidate gaps on real corpora and
    * the result equals exact brute force — which is what the q75 gate
    * holds it to.
    */
  def quantizedTopK(df: DataFrame, embCol: String, idCol: String,
                    query: Array[Double], k: Int, pool: Int = 0,
                    scale: Int = 4): DataFrame = {
    val poolN = if (pool > 0) pool else 4 * k
    val qs = math.max(query.map(math.abs).max / 127.0, 1e-30)
    val qCodes = query.map(x => math.floor(x / qs + 0.5))
    val cand = quantize(df, embCol, idCol)
      .select(col(idCol),
        cosine(col("qcodes").cast("array<double>"), typedLit(qCodes)).as("__qsim"))
      .orderBy(col("__qsim").desc, col(idCol))
      .limit(poolN)
      .select(col(idCol))
    val q = typedLit(query)
    df.join(broadcast(cand), Seq(idCol))
      .select(col(idCol).as("id"),
        round(cosine(col(embCol).cast("array<double>"), q), scale).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  // ---- IVF-flat -------------------------------------------------------

  /** Deterministic coarse centroids: the `nlist` corpus vectors with the
    * smallest murmur3(id) — a seeded sample, reproducible across runs and
    * executors without any training iterations (k-means would tighten the
    * cells but introduces run-order nondeterminism; at IVF's coarse
    * granularity the sampled quantizer already balances cells to within a
    * small factor on real embedding corpora). O(nlist·d) driver metadata —
    * like the query vector, not data.
    */
  private[graft] def sampleCentroids(df: DataFrame, embCol: String, idCol: String,
                                     nlist: Int): Array[Array[Double]] = {
    val cents = df.select(col(embCol).cast("array<double>").as("v"),
        hash(col(idCol)).as("h"))
      .orderBy(col("h"), col("v")(0))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    // a mixed-dimension corpus must fail the BUILD, not assign rows to
    // arbitrary cells later
    require(cents.nonEmpty && cents.forall(_.length == cents(0).length),
      s"IVF dimension mismatch: sampled quantizer vectors have lengths " +
        s"${cents.map(_.length).distinct.mkString(",")} — the corpus must " +
        "carry one embedding dimension")
    cents
  }

  /** Error text shared by the assign kernel and the driver-side probe
    * guard — the named signal the dimension contract throws on violation.
    */
  private[graft] def dimError(got: Int, want: Int): String =
    s"IVF dimension mismatch: vector has $got dims, the quantizer has " +
      s"$want — batches and queries must match the build's embedding " +
      "dimension (rebuild the index to change it)"

  /** `df` plus its nearest-centroid `cluster` — the codegen kernel, a
    * 9× measured win over the UDF spelling at sf1/sf10 (UDF boxing + the
    * restored static-forwarder codegen; SCALE.md round 18). Kernel ≡ UDF
    * reference is spec-pinned.
    */
  private[graft] def assignWithKernel(df: DataFrame, embCol: String,
                                      cents: Array[Array[Double]]): DataFrame =
    df.withColumn("cluster", graft.functions.VectorExpressions
      .nearestCentroid(col(embCol).cast("array<double>"), cents))

  /** Assign every vector to its nearest coarse centroid (cosine). The
    * returned frame adds a `cluster` column — write the corpus
    * partitioned by it (`df.write.partitionBy("cluster")`) and IVF probes
    * become partition-pruned scans at 100 TB.
    */
  def ivfAssign(df: DataFrame, embCol: String, idCol: String,
                nlist: Int = 16): DataFrame =
    assignWithKernel(df, embCol, sampleCentroids(df, embCol, idCol, nlist))

  /** IVF-flat top-k: rank exact cosine only inside the `nprobe` cells
    * whose centroids are closest to the query — the classic inverted-file
    * ANN layout. Scans nprobe/nlist of the corpus (partition-pruned if
    * the table is written partitioned by `cluster`); recall is tunable
    * via nprobe and reaches 1.0 when the true top-k's cells are probed.
    */
  def ivfTopK(df: DataFrame, embCol: String, idCol: String,
              query: Array[Double], k: Int, nlist: Int = 16,
              nprobe: Int = 4, scale: Int = 6): DataFrame = {
    val cents = sampleCentroids(df, embCol, idCol, nlist)
    // reuse the already-collected centroids — one metadata scan per query,
    // not two (assign + probe share the same quantizer)
    probeTopK(assignWithKernel(df, embCol, cents), cents, embCol, idCol,
      query, k, nprobe, scale)
  }

  /** The top-`k` rows of `cells` (a `cluster`-assigned frame) by exact
    * cosine to `query`, ranked inside the `nprobe` cells whose centroids
    * are closest to it (ties to the lower cluster id). The centroid
    * ranking runs on the driver; `cells` is not touched when the query's
    * dimension mismatches the quantizer's.
    */
  private def probeTopK(cells: => DataFrame, cents: Array[Array[Double]],
                        embCol: String, idCol: String, query: Array[Double],
                        k: Int, nprobe: Int, scale: Int): DataFrame = {
    require(cents.nonEmpty && query.length == cents(0).length,
      dimError(query.length, cents.headOption.map(_.length).getOrElse(0)))
    def cos(p: Array[Double]): Double = {
      var s = 0.0; var pn = 0.0; var qn = 0.0
      var j = 0
      while (j < p.length) { s += p(j) * query(j); pn += p(j) * p(j); qn += query(j) * query(j); j += 1 }
      s / (math.sqrt(pn) * math.sqrt(qn))
    }
    val probed = cents.zipWithIndex.sortBy { case (p, i) => (-cos(p), i) }
      .take(nprobe).map(_._2)
    cells
      .filter(col("cluster").isin(probed.toSeq: _*))
      .select(col(idCol).as("id"),
        round(cosine(col(embCol).cast("array<double>"), typedLit(query)), scale)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(k)
  }

  /** Build and PERSIST the IVF index — the lifecycle split a deployment
    * actually runs: pay assignment once at ingest, then every query is a
    * partition-pruned scan of nprobe/nlist of the corpus. Layout:
    * `path/centroids` (cluster, centroid) sidecar — O(nlist·d) metadata —
    * and `path/corpus` written `partitionBy("cluster")`, so the cluster
    * predicate in [[ivfQuery]] prunes at PLANNING time (directory-level,
    * verified in OperatorsSpec), not per-row.
    */
  def ivfBuild(df: DataFrame, embCol: String, idCol: String, nlist: Int,
               path: String): Unit = {
    // the quantizer sample runs (and fails) BEFORE anything destructive:
    // a rebuild invoked with wrong columns or an unreadable corpus must
    // leave the old index — commit markers included — fully readable
    val cents = sampleCentroids(df, embCol, idCol, nlist)
    val spark = df.sparkSession
    import spark.implicits._
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    IndexLifecycle.withWriterLock(fs, root, "ivfBuild",
        IndexLifecycle.lockTtlMs(spark)) {
      // a rebuild erases appended rows — their commit markers go with them
      IndexLifecycle.clearCommits(fs, root)
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cluster", "centroid")
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(root, "centroids").toString)
      IndexLifecycle.writeDir(spark, fs, root, CorpusDir,
        assignWithKernel(df, embCol, cents)
          .withColumn(IndexLifecycle.AttemptCol, lit(null).cast("string")))
    }
  }

  private val CorpusDir =
    IndexLifecycle.DataDir("corpus", IndexLifecycle.Partitioned("cluster"))

  /** The persisted IVF index: one data dir, `corpus`, partitioned by
    * cluster. It keeps no meta; its frozen quantizer is the `centroids`
    * sidecar, written once at build.
    */
  private object IvfIndex extends IndexLifecycle.Store(Seq("corpus")) {
    def dir(meta: org.apache.spark.sql.Row, name: String): IndexLifecycle.DataDir =
      CorpusDir
  }

  /** The STORED coarse quantizer, ordered by cluster id (its array index
    * is the cluster id) — the frozen assignment contract every append
    * and query shares. nlist rows: sorted on the driver; the schema
    * comes from the file footer ([[IndexLifecycle.readDir]]), so the
    * read runs one job, not an inference job before it.
    */
  private def storedCentroids(spark: org.apache.spark.sql.SparkSession,
                              root: org.apache.hadoop.fs.Path): Array[Array[Double]] =
    IndexLifecycle.readDir(spark, new org.apache.hadoop.fs.Path(root, "centroids").toString)
      .select(col("cluster"), col("centroid")).collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** APPEND a batch to a persisted IVF index — the ANN side of the
    * day-2 lifecycle (the LSH index's `lshAppend` is the dedup side), through the
    * shared [[IndexLifecycle.append]] sequence: crash-safe (a partial
    * write is invisible until the atomic marker publish) and
    * `appendId`-idempotent under at-least-once retries.
    * The coarse quantizer is FROZEN at build time, the standard IVF
    * maintenance contract: appended vectors are assigned against the
    * STORED centroids (sidecar read, O(nlist·d)), so cell membership
    * stays consistent with the build and queries prune identically;
    * re-training the quantizer is a rebuild. Cost is
    * batch-proportional — assign the batch, append its rows into the
    * cluster-partitioned layout; the lake's vectors never move.
    * `df` must carry the build table's columns, and its embeddings the
    * quantizer's DIMENSION: a mismatched vector is rejected with a
    * named error (a truncated dot product would file it in an arbitrary
    * cell — present in counts, unfindable by any probe), and because
    * the rejection aborts the write before its commit marker, the
    * failed batch is invisible — fix the batch and retry the same
    * `appendId`.
    */
  def ivfAppend(df: DataFrame, embCol: String, idCol: String, path: String,
                appendId: Option[String] = None): Unit =
    IndexLifecycle.append(df.sparkSession, path, IvfIndex, "ivfAppend",
        appendId) { batch =>
      batch.append("corpus",
        assignWithKernel(df, embCol, storedCentroids(df.sparkSession, batch.root)))
    }

  /** Compact a persisted IVF index in place — the shared
    * [[IndexLifecycle.compact]] sequence: fold committed appends to base
    * rows (appends accumulate files per cluster partition — the same
    * small-file arc as the LSH band dirs), drop crashed-attempt garbage,
    * and fold markers to idempotency tombstones.
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    IndexLifecycle.compact(spark, path, IvfIndex, "ivfCompact")

  /** Query a persisted IVF index: rank exact cosine inside the `nprobe`
    * nearest cells only. Reads O(nlist·d) centroid metadata plus the
    * probed partitions — never the full corpus.
    */
  def ivfQuery(spark: org.apache.spark.sql.SparkSession, path: String,
               embCol: String, idCol: String, query: Array[Double], k: Int,
               nprobe: Int, scale: Int = 6): DataFrame = {
    val index = IndexLifecycle.open(spark, path, IvfIndex)
    // appended rows resolve through their commit markers (IndexLifecycle)
    // — a scan-local filter on a data column, so the planning-time
    // partition pruning on `cluster` is untouched
    probeTopK(index.visible("corpus"), storedCentroids(spark, index.root),
      embCol, idCol, query, k, nprobe, scale)
  }

  /** Embedding-cosine near-duplicate pairs via LSH blocking + exact
    * verification — the embedding variant of MinHash dedup.
    */
  def cosineNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                         threshold: Double, nBits: Int = 10, nTables: Int = 6,
                         dim: Int = 64, seed: Long = 7L): DataFrame = {
    // Candidate generation shuffles (table, sig, id) ONLY — ~24 B/row.
    // Column pruning drops the unused `v` from the bucket scan, so the
    // 0.5 KB/row vectors never ride the self-join; they come back in a
    // bounded verify join on the deduped id pairs, mirroring
    // Dedup.minhashLshPairs (text never rides its candidate join either).
    val cands = NearDupPairs.distinctPairs(NearDupPairs.selfJoin(
      lshBuckets(df, embCol, idCol, nBits, nTables, dim, seed), Seq("table", "sig")),
      "id_a", "id_b")
    val vecs = df.select(col(idCol).as("__vid"),
      col(embCol).cast("array<double>").as("__v"))
    cands
      .join(vecs.select(col("__vid").as("id_a"), col("__v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("__vid").as("id_b"), col("__v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
