package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** SemDeDup — semantic deduplication: k-means-cluster the embedding
  * space, then prune cosine near-duplicates WITHIN each cluster only
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication"). Clustering turns the corpus-wide
  * quadratic near-dup search into k cluster-bounded ones — the same
  * blocking idea as MinHash banding, but in embedding space, so it
  * catches SEMANTIC duplicates exact/fuzzy text hashing cannot.
  *
  * Keep rule (join-expressible determinization of the paper's per-cluster
  * greedy selection): within a cluster, x is DROPPED iff some other
  * member y with higher keep-priority has cosine(x, y) >= tau, where
  * priority orders by centroid-similarity ASC (the paper keeps the
  * member farthest from the centroid — "most atypical" — to preserve
  * diversity), with id ASC as the tie-break. One bounded self-anti-join
  * per cluster expresses it; no iteration, no driver state.
  *
  * Scale: the anti-join is equi-keyed on `cluster`, so pair volume is
  * sum over clusters of |c|^2 — the operator's contract is the paper's:
  * pick k so clusters stay bounded (k ~ corpus/expected-cluster-size).
  * Assignment is the broadcast-literal codegen'd cosine argmax from
  * [[KMeans]] (no shuffle); the join shuffles each side once on the
  * cluster key. A skewed cluster is a data-model signal (raise k), not
  * an executor OOM: the anti-join is sort-merge-able on both sides.
  */
object SemDeDup {

  /** Semantic dedup of `df` on embedding column `embCol`: returns the
    * KEPT rows with `cluster` and `cent_sim` columns added. `iters` = 0
    * clusters on the init centroids directly; `iters` > 0 runs that many
    * Lloyd iterations first ([[KMeans.fit]] — only the k×dim centroid
    * matrix crosses the driver).
    *
    * Centroid init contract: `initSeed = None` (default) seeds on the k
    * SMALLEST-ID vectors — fully deterministic and SQL-expressible,
    * which is what the q95 oracle encodes, but quality-blind when low
    * ids correlate with ingest order (all seeds from one corner of the
    * corpus). A production corpus should pass `Some(seed)` for the
    * [[KMeans.initCentroids]] hash-order draw: still deterministic and
    * reproducible (hash order, not partition order), but spread
    * uniformly over the corpus — the determinism-over-quality trade is
    * the caller's, stated here rather than hidden.
    */
  def semDedup(df: DataFrame, embCol: String, idCol: String, k: Int,
               tau: Double, iters: Int = 0,
               initSeed: Option[Long] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val centroids = KMeans.fit(df, embCol, idCol, k, iters, initSeed)
    semDedupOnAssigned(KMeans.assignWithSim(df, embCol, centroids), embCol, idCol, tau)
  }

  /** The shadow anti-join stage over a precomputed assignment — split
    * out (the [[Dedup.simhashPairsOnSigs]] precedent) so callers can
    * decide the assigned frame's lifecycle. Both join legs derive from
    * `assigned`; Spark recomputes the scan + fused argmax once per leg
    * unless the caller persists. Measured both ways with the fused
    * kernel (Probe q95persist, round 15, SCALE.md): persist WINS ~20%
    * at bench scale (recompute 2.19/2.94 s vs persist 1.74/2.44 s at
    * sf10/sf30) because it saves one scan+argmax leg. [[semDedup]]
    * still ships recompute as the default: the persisted frame is
    * CORPUS-sized, so at 100 TB MEMORY_AND_DISK means writing and
    * re-reading the corpus through executor storage — byte volume that
    * grows with the thing being deduped — while recompute's extra cost
    * is one cheap fused argmax over a scan both legs need anyway.
    * Callers whose upstream is genuinely expensive (embeddings computed
    * in-flight) persist and call this directly.
    */
  def semDedupOnAssigned(assigned: DataFrame, embCol: String, idCol: String,
                         tau: Double): DataFrame = {
    val xv = col(embCol).cast("array<double>")
    // Rename the shadow side's columns so the self-join condition cannot
    // resolve both legs to the same attribute (Spark's trivially-true
    // self-join trap).
    val shadow = assigned.select(
      col("cluster").as("y_cluster"), xv.as("y_v"),
      col("cent_sim").as("y_cs"), col(idCol).cast("long").as("y_id"))
    // nanvl guard: a zero-norm embedding makes cosineSim NaN, and Spark
    // comparison semantics rank NaN ABOVE every double — without the
    // guard a zero vector would count as "similar to everything" and be
    // anti-joined away as a duplicate of whatever shares its cluster.
    // Mapping NaN to -1 keeps zero-norm rows (they are semantically
    // similar to NOTHING) and stops them shadowing others.
    // `<=>` (null-safe equality), not `===`, and deliberately: `===` is
    // null-intolerant, so the optimizer inferred isnotnull(cluster) on
    // the shadow leg and pushed it through the assignment projection as
    // `isnotnull(argmax_cosine(...).cluster)` — the fused k×dim argmax
    // kernel ran TWICE per shadow row (scan filter + projection; r19
    // plan audit, plans/r19audit/q95_semdedup_before.txt). `<=>` infers
    // nothing. Join semantics are unchanged: a null cluster (null
    // embedding) now MATCHES another null cluster on this conjunct, but
    // the priority and cosine conjuncts evaluate null for such rows, so
    // the anti-join still never drops them — same kept set.
    assigned.join(shadow,
      (col("cluster") <=> col("y_cluster")) &&
        (col("y_cs") < col("cent_sim") ||
          (col("y_cs") === col("cent_sim") &&
            col("y_id") < col(idCol).cast("long"))) &&
        nanvl(VectorExpressions.cosineSim(xv, col("y_v")), lit(-1.0)) >= lit(tau),
      "left_anti")
  }
}
