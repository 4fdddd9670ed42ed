package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-substring duplication signals (the Lee et al. 2022
  * "Deduplicating Training Data Makes Language Models Better" family,
  * re-expressed relationally): for each document, the share of its
  * character n-gram start positions whose n-gram also occurs in at
  * least one OTHER document. High shares mark boilerplate and
  * cross-document copy-paste that doc-level near-dedup (MinHash) keeps.
  *
  * Instead of a suffix array (a global sorted structure that doesn't
  * shard), the relational shape is: stride-sampled n-gram extraction
  * (one narrow pass, O(chars/stride) rows) → distinct (doc, gram) →
  * gram-count — two map-side-combined shuffles keyed on the gram. At
  * 100 TB the gram key should be `xxhash64(gram)` (8 B vs n B keys, the
  * count is collision-tolerant); the gate keeps raw grams so the DuckDB
  * oracle is byte-identical. Stride trades recall for volume exactly
  * like the paper's sampled suffix scans.
  */
object SubstringDup {

  /** Per-document duplicated-span stats: `n_grams` sampled positions,
    * `n_dup` positions whose n-gram occurs in ≥2 distinct docs,
    * `dup_frac` their ratio. Docs shorter than `n` chars are dropped
    * (they have no n-gram position).
    *
    * `hashGrams=true` keys the shuffle on `xxhash64(gram)` (8-byte
    * fixed-width keys instead of n-byte strings) — the doc-count is
    * collision-tolerant, so this is the 100 TB deployment shape; the
    * oracle gate keeps raw grams for byte-identical DuckDB comparison.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int, stride: Int, hashGrams: Boolean = false): DataFrame = {
    require(n > 0 && stride > 0, s"n and stride must be > 0, got n=$n stride=$stride")
    // Non-null ids required (the dedup family's id contract, explicit
    // here as in TrainOrder): the filter also pins BOTH extraction
    // branches to the same scan predicates — without it the rollup
    // join's inferred isnotnull(id) lands on one branch only and the
    // exchange-reuse below (see dupGrams) can never match.
    val src = df.filter(col(idCol).isNotNull)
    // ONE gram-keyed exchange for the whole census, map-side-combined
    // BEFORE it: the extraction kernel (GramHashCountsExpr) collapses
    // each document's sampled positions to distinct (gram, count) pairs
    // in the same single string pass that hashes them, so the exchange
    // ships O(distinct grams per doc) rows — never O(positions) — and a
    // ubiquitous boilerplate 16-gram's post-shuffle partition holds one
    // row per doc containing it (docs-bounded), not its raw position
    // count. After the repartition everything is gram-COLOCATED: the
    // per-gram doc-count aggregates in place and the shared-gram join's
    // two sides share the partitioning — Catalyst inserts no further
    // exchange until the final small per-doc rollup. The previous
    // decomposition (groupBy(id, gram) → groupBy(gram) → join back on
    // gram) was skew-safe but re-shuffled the set on every hop — three
    // full exchanges; 65 s vs 46 s at sf30. No window over gram either
    // way: AQE cannot split a window partition.
    val gramCounts =
      if (hashGrams)
        src.filter(length(col(textCol)) >= n)
          .select(col(idCol).as("__id"),
            explode(graft.functions.GramHash.gramHashCounts(col(textCol), n, stride))
              .as("__g"))
          .select(col("__id"), col("__g.gram").as("gram"), col("__g.cnt").as("__cnt"))
          .repartition(col("gram"))
      else {
        // raw-gram path: the byte-exact DuckDB oracle shape, run at
        // small sf only. It keeps literal gram strings (explode INT
        // positions, slice in the aggregation's codegen stage) and
        // collapses (gram, id) AFTER the exchange, so it lacks the
        // hashed path's docs-bounded hot-gram guarantee — the 100 TB
        // deployment shape is hashGrams=true.
        src.filter(length(col(textCol)) >= n)
          .select(col(idCol).as("__id"), col(textCol).as("__t"),
            explode(expr(s"sequence(1, length($textCol) - ${n - 1}, $stride)"))
              .as("__i"))
          .select(col("__id"), expr(s"substring(__t, __i, $n)").as("gram"))
          .repartition(col("gram"))
          .groupBy(col("gram"), col("__id"))
          .agg(count(lit(1)).as("__cnt"))
      }
    // The census count REFERENCES both payload columns on purpose:
    // with a bare count(*) column pruning narrows this branch's
    // pre-exchange projection to [gram], the subtree no longer matches
    // the join branch's, and the gram-extraction kernel + gram exchange
    // run TWICE (r19 plan audit). Referencing (__id, __cnt) keeps the
    // projections identical, so this branch plans as a ReusedExchange
    // of the join branch — one extraction, one exchange for the whole
    // census. The spelling must survive the optimizer: count(struct(…))
    // is rewritten to count(*) (struct non-nullable), dummy first()
    // aggregates are pruned, and nullability-only predicates constant-
    // fold (the kernel's struct fields are non-null); a VALUE-level
    // guard does not. count(when(__cnt >= 1, __id)) counts exactly the
    // per-(doc, gram) rows: __cnt >= 1 is the extraction kernel's
    // contract (it emits positive counts), and ids are non-null per the
    // dedup family's id contract — same count as count(*) on any such
    // corpus, verified by the unchanged q80 oracle gate.
    val dupGrams = gramCounts.groupBy(col("gram"))
      .agg(count(when(col("__cnt") >= 1, col("__id"))).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("gram"), lit(1).as("__dup"))
    // colocated join; hash-build the shared-gram side (no per-partition
    // sort of the big side)
    gramCounts.join(dupGrams.hint("SHUFFLE_HASH"), Seq("gram"), "left")
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__cnt")).as("n_grams"),
        sum(when(col("__dup").isNotNull, col("__cnt")).otherwise(lit(0L)))
          .cast("long").as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_grams"), 4))
  }
}
