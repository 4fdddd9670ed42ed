package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed exact top-k over a categorical column WITHOUT shuffling the
  * full key universe — Misra–Gries candidate generation + exact recount.
  *
  * The exact two-level aggregation (q77's shape: map-side partial counts,
  * one shuffle of DISTINCT KEYS) is the right plan while the key universe
  * is small. At 100 TB the universe itself explodes — token/n-gram
  * vocabularies run to billions of keys — and "shuffle one row per
  * distinct key" becomes the bottleneck even with map-side combine.
  * Frequency-biased selection fixes that in two linear passes:
  *
  *  1. CANDIDATES: each partition runs a Misra–Gries summary of
  *     `capacity` counters over its local stream (amortized O(1)/row: a
  *     full summary meeting a new key decrements every counter once,
  *     which happens at most n_p/(capacity+1) times). MG's guarantee:
  *     any key with local count > n_p/(capacity+1) survives the
  *     partition's summary. By pigeonhole, any key with GLOBAL count
  *     > N/(capacity+1) exceeds that threshold in at least one
  *     partition, so the union of per-partition candidates contains
  *     every global heavy hitter. At most `capacity` rows leave each
  *     partition — KBs, not the vocabulary.
  *  2. RECOUNT: exact counts for candidate keys only — a semi filter of
  *     the input against the (tiny, broadcast) candidate set, then the
  *     usual map-side-combined count over ≤ capacity·P keys.
  *
  * The result is EXACTLY the true top-k (not an estimate) whenever every
  * true top-k key has global frequency above N/(capacity+1) — the
  * deployment contract is therefore "capacity ≫ k / skew margin", e.g.
  * capacity 4096 for k ≤ 100 guarantees exactness down to 0.024% key
  * frequency. Callers needing certainty compare the k-th returned count
  * against N/(capacity+1): if it clears the bound, the result is proven
  * exact (the check is two scalars from this output).
  *
  * NULL keys are excluded from the count (a NULL never equals itself in
  * the recount's semi join, so counting it as an MG candidate would
  * silently drop it from the output anyway — exclusion up front makes the
  * contract explicit and matches `WHERE key IS NOT NULL` SQL semantics).
  *
  * Reference capability: corpus vocabulary statistics (the same surface
  * as q77's top-k); this operator is its 100 TB-vocabulary path.
  */
object HeavyHitters {

  /** One Misra–Gries step: count `key` in the summary `m` of at most
    * `capacity` counters. A full summary meeting an unseen key
    * decrements every counter (the incoming key's implicit counter hits
    * 0 and is not stored); mutating the map during that sweep is safe
    * via the entry iterator's remove().
    */
  private def mgUpdate(m: java.util.HashMap[String, Long], key: String,
                       capacity: Int): Unit = {
    val c = m.get(key)
    if (c != 0L) m.put(key, c + 1L)
    else if (m.size < capacity) m.put(key, 1L)
    else {
      val eit = m.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getValue == 1L) eit.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** Exact top-k keys of `keyCol` by count, via MG candidates + recount.
    * Output columns: (`keyCol`, cnt), ordered (cnt DESC, key ASC) — the
    * same deterministic ordering as an exact SQL top-k over non-NULL
    * keys, so results are oracle-comparable whenever the capacity bound
    * holds.
    */
  def topK(df: DataFrame, keyCol: String, k: Int,
           capacity: Int = 4096): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(capacity >= k, s"capacity ($capacity) must be >= k ($k)")
    val spark = df.sparkSession
    import spark.implicits._

    val input = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"))
    val keys = input.as[String]
    val candidates = keys.mapPartitions { it =>
      val m = new java.util.HashMap[String, Long](capacity * 2)
      it.foreach(mgUpdate(m, _, capacity))
      import scala.jdk.CollectionConverters._
      m.keySet().iterator().asScala
    }.toDF("k").distinct()

    // Exact recount of candidates only. The candidate set is ≤
    // capacity·partitions rows (KB–MB), so broadcast the semi filter; at
    // extreme executor counts drop the hint and let AQE/shuffled-semi
    // handle it — correctness is unchanged.
    input
      .join(broadcast(candidates), Seq("k"), "left_semi")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("k"))
      .limit(k)
      .withColumnRenamed("k", keyCol)
  }

  /** Unified vocabulary-top-k front door — regime-switched on KEY
    * cardinality so a caller can never pick the wrong shape at 100 TB
    * (the [[topKPerGroup]] design applied to the global case):
    *
    *  - '''exact regime''' (distinct keys ≤ `maxExactKeys`): one
    *    map-side-combined `groupBy(key).count` + TakeOrdered — one
    *    shuffle of the distinct-key universe. The right plan while the
    *    universe is small (q77's shape; beats MG's second scan).
    *  - '''MG regime''' (larger universes): [[topK]] — Misra–Gries
    *    candidates + exact recount; shuffle stays ≤ capacity·partitions
    *    rows however large the vocabulary.
    *
    * The measured crossover (Probe hhvocab, five points to 29.3 M Zipf
    * keys, SCALE.md): the exact shape's shuffle grows ~44 B/key (981 MB
    * at 29.3 M keys) while MG stays ≤ 43 MB; single-box wall-clock
    * crosses at ~1.5×10⁸ keys, but on a cluster the exact shape is
    * NETWORK-bound far earlier — so the default threshold (10⁷) sits
    * well below the single-box fit, where both regimes are within
    * single-digit percent locally and MG is strictly safer beyond.
    *
    * Cardinality comes from `expectedKeys` when known; otherwise ONE
    * `approx_count_distinct` job (HLL sketch, no key shuffle) runs AT
    * CALL TIME — like [[topKPerGroup]], constructing the frame without
    * a hint triggers that input scan, so plan-only callers should pass
    * the hint. Both regimes return (`keyCol`, cnt) ordered
    * (cnt DESC, key ASC), NULL keys excluded, and are exact under
    * [[topK]]'s capacity bound (the exact regime unconditionally).
    */
  def vocabTopK(df: DataFrame, keyCol: String, k: Int,
                capacity: Int = 4096, maxExactKeys: Long = 10L * 1000 * 1000,
                expectedKeys: Option[Long] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val input = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"))
    val nKeys = expectedKeys.getOrElse(
      input.select(approx_count_distinct(col("k")).as("n")).first().getLong(0))
    if (nKeys > maxExactKeys) topK(df, keyCol, k, capacity)
    else
      input.groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("k"))
        .limit(k)
        .withColumnRenamed("k", keyCol)
  }

  /** Exact top-k keys WITHIN each group (per-language vocabulary,
    * per-domain hot URLs), regime-switched on group cardinality — because
    * Misra–Gries per group is only the right algorithm while the group
    * count is SMALL:
    *
    *  - '''MG regime''' (groups ≤ `maxMgGroups`): one MG summary per
    *    (partition, group) — per-partition memory is O(groups × capacity)
    *    counters and the candidate union is ≤ groups × capacity distinct
    *    (group, key) pairs, small enough to broadcast for the recount's
    *    semi filter. The guarantee is per group: any key with in-group
    *    count > N_g/(capacity+1) is a candidate (the same pigeonhole over
    *    partitions, applied to the group's own rows). Skewed group SIZES
    *    are safe — a dominant group costs one summary per partition like
    *    any other — it is group COUNT that this regime bounds.
    *  - '''Exact regime''' (groups > `maxMgGroups`, e.g. per-domain over
    *    a 100 TB crawl with tens of millions of domains): MG stops
    *    paying for itself — capacity × groups candidate rows per
    *    partition would exceed the map-side-combined volume of the exact
    *    aggregate, the per-partition group map would be an unbounded
    *    heap, and the candidate set could not be broadcast. The right
    *    plan is Spark's own: `groupBy(group, key).count` (map-side
    *    combine, spill-safe hash aggregate, ONE shuffle of narrow
    *    (group, key, cnt) rows) + per-group window Top-N. Exact
    *    unconditionally, executor memory bounded by the spillable
    *    aggregate regardless of cardinality.
    *
    * Group cardinality is taken from `expectedGroups` when the caller
    * knows it; otherwise a single `approx_count_distinct` job (HLL
    * sketches only — no key shuffle) runs AT CALL TIME to pick the
    * regime — a deliberate side effect: the regime decides the PLAN, so
    * it must be fixed before the DataFrame exists. Callers that need
    * plan-only construction (inspection, registration) without
    * triggering an input scan must pass `expectedGroups`; the probe is
    * the no-hint fallback, not the API contract. Both regimes return
    * identical output: (`groupCol`,
    * `keyCol`, cnt) ordered (group ASC, cnt DESC, key ASC); NULL groups
    * and NULL keys are excluded (see class doc). The ±2% HLL error can
    * only flip the regime at the boundary, where both are exact and
    * comparably priced.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, keyCol: String, k: Int,
                   capacity: Int = 4096, maxMgGroups: Int = 64,
                   expectedGroups: Option[Long] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(capacity >= k, s"capacity ($capacity) must be >= k ($k)")
    require(maxMgGroups > 0, s"maxMgGroups must be positive, got $maxMgGroups")
    val spark = df.sparkSession
    import spark.implicits._

    val base = df.filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("string").as("k"))
    val nGroups = expectedGroups.getOrElse(
      base.select(approx_count_distinct(col("g")).as("n")).first().getLong(0))

    val counted =
      if (nGroups > maxMgGroups) {
        // Exact regime: map-side-combined count, one narrow shuffle,
        // spillable — no per-group state, no broadcast.
        base.groupBy(col("g"), col("k")).agg(count(lit(1)).as("cnt"))
      } else {
        // MG regime: candidates never exceed maxMgGroups × capacity
        // pairs, so the per-partition group map and the broadcast are
        // both bounded by construction.
        val rows = base.as[(String, String)]
        val candidates = rows.mapPartitions { it =>
          val perGroup = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
          it.foreach { case (g, key) =>
            var m = perGroup.get(g)
            if (m == null) { m = new java.util.HashMap[String, Long](capacity * 2); perGroup.put(g, m) }
            mgUpdate(m, key, capacity)
          }
          import scala.jdk.CollectionConverters._
          perGroup.entrySet().iterator().asScala.flatMap { ge =>
            val g = ge.getKey
            ge.getValue.keySet().iterator().asScala.map(key => (g, key))
          }
        }.toDF("g", "k").distinct()

        base
          .join(broadcast(candidates), Seq("g", "k"), "left_semi")
          .groupBy(col("g"), col("k"))
          .agg(count(lit(1)).as("cnt"))
      }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("cnt").desc, col("k"))
    counted
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("g"), col("cnt").desc, col("k"))
      .withColumnRenamed("g", groupCol)
      .withColumnRenamed("k", keyCol)
  }
}
