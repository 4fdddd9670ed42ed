package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The assembled curation front door — every stage is an operator this
  * library already proves individually; this composes them in the order
  * a production training-data pipeline runs them, so "a user could run
  * their whole pipeline here" is a single call, not a claim:
  *
  *   1. exact dedup        — keep the smallest-id copy per md5(text)
  *   2. decontaminate      — drop docs overlapping the benchmark's
  *                           word n-grams (broadcast benchmark side)
  *   3. quality filter     — min token count + min distinct-token ratio
  *   4. deterministic sample — md5-prefix Bernoulli (numerator/256)
  *   5. mix                — per-source epoch weights ([[Mixing]])
  *   6. pack               — per-language token-budget bins ([[Packing]])
  *
  * Laid out so volume-reducing stages run FIRST and the only
  * volume-increasing stage (mix) runs immediately before packing — at
  * 100 TB the replicated rows exist for exactly one window shuffle.
  * Every stage is a pure function of the input (hash coins, stable
  * tie-breaks), so the emitted corpus is bit-reproducible for dataset
  * cards, and the whole chain is auditable as one SQL statement (the
  * q86 oracle runs precisely that).
  */
object Curate {

  /** Run the full chain; returns row-level curated output
    * (idCol, lang, source, replica, tokens, bin).
    */
  def curate(docs: DataFrame, benchmark: DataFrame, idCol: String,
             textCol: String, langCol: String, sourceCol: String,
             minWords: Int, minUniqRatio: Double, sampleNumerator: Int,
             weights: Map[String, Double], packBudget: Long): DataFrame = {
    val id = col(idCol)
    // 1. exact dedup (q44 semantics: smallest id per exact text hash)
    val deduped = Dedup.exact(docs, textCol, idCol)
    // 2. benchmark decontamination (q71/q72 semantics, minHits = 2)
    val clean = Decontaminate.decontaminate(
      deduped, benchmark, textCol, idCol, n = 3, minHits = 2)
    // 3. quality floor (q41 signals)
    val scored = clean
      .withColumn("__words", size(split(col(textCol), " ")))
      .withColumn("__uniq", size(array_distinct(split(col(textCol), " "))))
      .filter(col("__words") >= minWords &&
        col("__uniq").cast("double") / col("__words") >= minUniqRatio)
    // 4. deterministic Bernoulli sample (q74 semantics)
    val sampled = Sampling.hashSample(scored, idCol, sampleNumerator)
    // 5. per-source mixing (q79 semantics)
    val mixed = Mixing.upsample(sampled, sourceCol, idCol, weights)
    // 6. sequence packing per language (q76 semantics); the order key
    // folds the replica in so mixed copies pack at distinct positions.
    // The stride is derived from the weights map (max possible copies =
    // floor(max weight) + 1), NOT a hardcoded constant: a fixed stride
    // aliases whenever replica >= stride, making the window order
    // non-unique and bin assignment partition-dependent — breaking the
    // bit-reproducibility contract. Any stride > max replica yields the
    // SAME lexicographic (id, replica) order, so the oracle's literal
    // stride stays equivalent as long as it also exceeds max replica.
    val maxCopies = weights.values.foldLeft(1.0)(math.max).floor.toLong + 1L
    val ordered = mixed.select(col(langCol), col(sourceCol), id,
        col("replica"), col("__words").as("tokens"),
        (id * maxCopies + col("replica")).as("__ord"))
    Packing.packBins(ordered, langCol, "__ord", "tokens", packBudget)
      .drop("__ord")
  }
}
