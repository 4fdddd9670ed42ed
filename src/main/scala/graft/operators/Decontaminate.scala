package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — remove training documents that share
  * word n-grams with an evaluation/benchmark set (the standard guard
  * against test-set leakage in a training-data pipeline).
  *
  * Shape at 100 TB: the benchmark side is tiny (eval suites are KBs–MBs
  * of text) while the corpus is the 100 TB side, so the benchmark n-gram
  * set is deduplicated and BROADCAST — the corpus never shuffles; the
  * whole operator is one broadcast-hash semi-join over an exploded,
  * codegen'd n-gram projection. Per-doc n-grams are deduplicated BEFORE
  * the explode (`array_distinct`), bounding the exploded row count at
  * words-per-doc, never words × duplicate-gram multiplicity.
  */
object Decontaminate {

  /** Per-document overlap counts: one row per corpus document sharing at
    * least one n-gram with the benchmark set — (idCol, n_hits) where
    * n_hits = number of DISTINCT overlapping n-grams.
    */
  def overlapHits(corpus: DataFrame, benchmark: DataFrame,
                  textCol: String, idCol: String, n: Int): DataFrame = {
    val corpusGrams = corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("__gram"))
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("__gram"))
      .distinct()
    corpusGrams
      .join(broadcast(benchGrams), "__gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")) // grams are per-doc distinct already
  }

  /** The pipeline operator: corpus rows whose benchmark n-gram overlap is
    * below `minHits` (contaminated rows removed). Anti-join against the
    * bounded hits set, so the corpus side streams through unshuffled.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, n: Int,
                    minHits: Int = 1): DataFrame = {
    val flagged = overlapHits(corpus, benchmark, textCol, idCol, n)
      .filter(col("n_hits") >= minHits)
      .select(col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
