package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS algorithm): hash every k-gram, slide a w-wide window over
  * the hash sequence, keep each window's minimum — guaranteeing at
  * least one shared fingerprint for any match of length ≥ w+k−1 while
  * storing only ~2/(w+1) of the hashes. The positional complement to
  * whole-document fingerprints (q43) and doc-level MinHash: winnowed
  * prints LOCALIZE the overlap.
  *
  * Relational shape: position explode → k-gram hash → windowed min →
  * distinct — one narrow pass plus a per-doc window (shuffles on the
  * doc id, the natural partition). The gram hash is the md5 hex string
  * so selection order is engine-portable (any engine's MIN over
  * strings agrees); at 100 TB swap in xxhash64 for 8-byte prints once
  * cross-engine equality is no longer the gate.
  */
object Winnowing {

  /** Distinct winnowed fingerprints per document: (idCol, print).
    * Only full w-wide windows select (the guarantee is per complete
    * window; truncated tail windows would re-select their suffix mins).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be > 0, got k=$k w=$w")
    val grams = df.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("__id"), col(textCol).as("__t"),
        explode(expr(s"sequence(1, length($textCol) - ${k - 1})")).as("__i"))
      .select(col("__id"), col("__i"),
        md5(expr(s"substring(__t, __i, $k)")).as("__h"))
    val win = Window.partitionBy(col("__id")).orderBy(col("__i"))
      .rowsBetween(Window.currentRow, w - 1)
    val nGrams = Window.partitionBy(col("__id"))
    grams
      .withColumn("__min", min(col("__h")).over(win))
      .withColumn("__n", count(lit(1)).over(nGrams))
      .filter(col("__i") <= col("__n") - (w - 1))
      .select(col("__id").as(idCol), col("__min").as("print"))
      .distinct()
  }

  /** Documents sharing at least `minShared` winnowed prints — the
    * localized-overlap report (which passages, not just which docs).
    */
  def sharedPrints(df: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int, minShared: Int): DataFrame = {
    val fp = fingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("print"))
    NearDupPairs.selfJoin(fp, Seq("print"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
