package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The near-duplicate pair core: the three steps every pair operator is
  * built from. The MinHash-LSH, simhash, n-gram, embedding-cosine and
  * winnowing operators are callers that pick their sources, id names
  * and join shape; each keeps its own post-join filter, grouping or
  * dedup.
  *
  *  - candidates: band rows of two sides joined on their band keys —
  *    [[selfJoin]] for the symmetric shape, [[join]] for two sides;
  *  - verify: candidates joined to both sides' `(id, hashes)`
  *    projections ([[shingleHashes]]), kept at or above the exact
  *    Jaccard threshold ([[verify]]);
  *  - drop: the left anti join that removes one side of every verified
  *    pair ([[dropPairs]]).
  */
private[operators] object NearDupPairs {

  /** How a two-sided band join is planned. */
  sealed trait JoinShape
  /** Sort-merge on both sides (see [[join]]). */
  case object Merge extends JoinShape
  /** Broadcast the right side: the caller has MEASURED it small. */
  case object BroadcastRight extends JoinShape

  /** `left` ⋈ `right` on `keys`, planned as `shape`.
    *
    * Why MERGE: both sides of a band join are corpus-scale band rows —
    * broadcasting either is categorically wrong, but the size ESTIMATE
    * of a UDF+explode projection can collapse below the broadcast
    * threshold and make the static planner try (observed at sf30: a
    * 1.1 GiB driver collect killed by maxResultSize). SHUFFLE_HASH is
    * wrong at the other end: the per-partition hash build assumes a
    * partition of the banded corpus fits execution memory, and at sf100
    * (5M docs) it failed a 512 MB acquisition with 32 concurrent build
    * tasks. Sort-merge is the only shape with no memory assumption on
    * EITHER side — sorts spill — which is the contract a pair operator
    * must keep on an unbounded corpus. A broadcast is planned only when
    * the caller measured the broadcast side, never on an estimate.
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
           shape: JoinShape): DataFrame = shape match {
    case Merge => left.join(right.hint("MERGE"), keys)
    case BroadcastRight => left.join(broadcast(right), keys)
  }

  /** Symmetric self-join of `rows` (an `id` column, the `keys` and the
    * `carry` columns) on `keys`: one row per ordered match
    * `id_a < id_b`, each carried column `c` as `c_a` and `c_b`. Sort-merge
    * always — both sides are the whole input (see [[join]]).
    */
  def selfJoin(rows: DataFrame, keys: Seq[String], carry: String*): DataFrame = {
    def side(s: String): DataFrame = rows.select(keys.map(col) ++
      (col("id").as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    join(side("a"), side("b"), keys, Merge).filter(col("id_a") < col("id_b"))
  }

  /** Distinct `(a, b)` id pairs of a band join. */
  def distinctPairs(joined: DataFrame, a: String, b: String): DataFrame =
    joined.select(col(a), col(b)).dropDuplicates(a, b)

  /** `(id, sh)`: per-doc sorted distinct 64-bit shingle hashes of a
    * `(id, __text)` projection — computed ONCE per document, so the
    * verify join never re-shingles text per candidate pair (a doc in c
    * candidate pairs would otherwise be re-shingled c times; with
    * dup-heavy corpora c reaches the dup-cluster size). The same
    * projection feeds the persisted index's `hashes` dir.
    */
  def shingleHashes(base: DataFrame, k: Int): DataFrame =
    base.select(col("id"), Dedup.shingleHashes64Udf(k)(col("__text")).as("sh"))

  /** Candidates `(aId, bId)` joined to the `(id, hashes)` frames `a` and
    * `b`, kept where the exact Jaccard of the two shingle hash sets is
    * at least `threshold`: `(aId, bId, jaccard)`. Candidate volume is
    * LSH-bounded, so this step is O(|near-dups|), not O(n²); the joins
    * are left unhinted — candidates are an AQE-visible shuffle output,
    * so the runtime broadcasts them when they are small.
    */
  def verify(candidates: DataFrame, a: DataFrame, b: DataFrame,
             aId: String, bId: String, threshold: Double): DataFrame =
    candidates.join(a.toDF(aId, "__sh_a"), aId).join(b.toDF(bId, "__sh_b"), bId)
      .select(col(aId), col(bId),
        graft.functions.JaccardExpressions.sortedJaccard(
          col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** `df` without the rows whose `idCol` appears as `dropCol` of a
    * verified pair.
    */
  def dropPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                dropCol: String): DataFrame = {
    val dupIds = pairs.select(col(dropCol).as("__drop")).distinct()
    df.join(dupIds, df(idCol) === dupIds("__drop"), "left_anti")
  }
}
