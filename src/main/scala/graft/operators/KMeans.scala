package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Distributed Lloyd's k-means over an embedding column — the corpus
  * clustering step training pipelines use for topic balancing and
  * semantic dedup (cluster-then-sample).
  *
  * One Lloyd iteration is two narrow passes:
  *  1. assignment — centroids broadcast as a literal array (k×dim
  *     doubles, KBs), nearest-by-cosine computed in the codegen'd
  *     [[VectorExpressions.cosineSim]]; no shuffle, no UDF.
  *  2. update — `posexplode` the assigned vectors to (cluster, dim, x)
  *     and average per (cluster, dim): one map-side-combined shuffle of
  *     k×dim partial sums per partition, independent of corpus size.
  *
  * Iterating is a driver loop collecting only the k×dim centroid matrix
  * per round (the classic MLlib shape). Determinism: ties break to the
  * smallest centroid id, init is the `k` smallest-id corpus vectors —
  * a pure function of the data, reproducible anywhere.
  */
object KMeans {

  /** The k initial centroids, drawn from the corpus in one TakeOrdered
    * pass; only k×dim doubles reach the driver.
    *  - `seed = None`: the k vectors with the smallest ids. Oracle-friendly
    *    (a pure function of the data, expressible in SQL) but
    *    quality-blind — if low ids correlate with ingest order, the
    *    seeds all come from one corner of the corpus.
    *  - `Some(seed)`: the k vectors with the smallest `xxhash64(id, seed)`
    *    (ties to the smaller id) — a deterministic pseudo-random draw
    *    spread uniformly over the corpus regardless of id layout,
    *    reproducible across runs and cluster topologies (same contract
    *    as [[Sampling.hashSample]]'s hash-order trick). Production
    *    clustering should prefer it.
    */
  def initCentroids(df: DataFrame, embCol: String, idCol: String, k: Int,
                    seed: Option[Long] = None): Array[(Long, Array[Double])] = {
    val id = col("__id")
    df.select(col(idCol).cast("long").as("__id"),
        col(embCol).cast("array<double>").as("__v"))
      .orderBy((seed.map(s => xxhash64(id, lit(s))).toSeq :+ id): _*)
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1).toArray) }
  }

  /** Add `cluster` AND `cent_sim` columns: nearest centroid by cosine
    * (ties to the smallest centroid id) plus the similarity to that
    * centroid. The single argmax shared by [[assign]] and [[SemDeDup]] —
    * one copy of the tie-break the oracles encode. Runs as ONE fused
    * codegen'd k×dim loop ([[VectorExpressions.argmaxCosine]]); the
    * previous `greatest(struct(cosineSim, -cid), …)` chain allocated k
    * structs + k-1 struct comparisons per row — measured 55 s per join
    * leg at k=64 over 200k×64-dim rows (Probe q95persist, round 14; see
    * SCALE.md for the fused numbers).
    */
  def assignWithSim(df: DataFrame, embCol: String,
                    centroids: Array[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val v = col(embCol).cast("array<double>")
    df.withColumn("_best", VectorExpressions.argmaxCosine(v, centroids))
      .withColumn("cluster", col("_best").getField("cluster"))
      .withColumn("cent_sim", col("_best").getField("cent_sim"))
      .drop("_best")
  }

  /** Add a `cluster` column: nearest centroid by cosine, ties to the
    * smallest centroid id. Centroids ride along as broadcast literals.
    */
  def assign(df: DataFrame, embCol: String,
             centroids: Array[(Long, Array[Double])]): DataFrame =
    assignWithSim(df, embCol, centroids).drop("cent_sim")

  /** One Lloyd update: element-wise mean of each cluster's members.
    * Returns (cluster, n_members, centroid: array<double>).
    */
  def lloydStep(df: DataFrame, embCol: String,
                centroids: Array[(Long, Array[Double])]): DataFrame =
    assign(df, embCol, centroids)
      .select(col("cluster"), posexplode(col(embCol).cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("mean_x"))
      .groupBy(col("cluster"))
      .agg(first(col("n")).as("n_members"),
        array_sort(collect_list(struct(col("dim"), col("mean_x"))))
          .getField("mean_x").as("centroid"))

  /** Run `iters` Lloyd iterations from [[initCentroids]] with
    * `initSeed`; only the k×dim centroid matrix crosses the driver per
    * round. `iters <= 0` returns the init itself. `initSeed = None`
    * keeps the deterministic smallest-id init (the oracle contract).
    */
  def fit(df: DataFrame, embCol: String, idCol: String, k: Int,
          iters: Int, initSeed: Option[Long] = None): Array[(Long, Array[Double])] = {
    var cs = initCentroids(df, embCol, idCol, k, initSeed)
    var i = 0
    while (i < iters) {
      cs = lloydStep(df, embCol, cs)
        .select(col("cluster"), col("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      i += 1
    }
    cs
  }
}
