package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The plain-Scala and composite-expression spellings the codegen
  * kernels replaced, kept as their executable specifications: every
  * kernel ≡ reference spec (MinHashKernelSpec, OperatorsSpec,
  * ParagraphDedupSpec, KernelPropertiesSpec) compares against these.
  * Test-only — never wire into an operator.
  */
object KernelReferences {

  /** text → MinHash signature in one executor-local pass (tokenize,
    * shingle, hash, permute) — the reference for
    * [[graft.functions.MinHashSig.sig]]. Same `Random(42)` permutation
    * family, same murmur3 shingle hash, null for sub-shingle-length text.
    */
  def textSignatureUdf(numPerm: Int, k: Int) = {
    val prime = 4294967311L // > 2^32
    val rnd = new scala.util.Random(42)
    val as = Array.fill(numPerm)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val bs = Array.fill(numPerm)(rnd.nextInt(Int.MaxValue).toLong)
    udf((text: String) => {
      val sh = Dedup.shingleStrings(text, k)
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
    }).withName("minhash_sig")
  }

  /** Jaccard of two sorted distinct Long arrays by merge-intersection,
    * rounded to 4 places; null or empty input is 0.0 — the reference for
    * [[graft.functions.JaccardExpressions.sortedJaccard]].
    */
  val sortedJaccardUdf = udf((a: Seq[Long], b: Seq[Long]) => {
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

  /** 64-bit SimHash over word tokens (two seeded murmur3 hashes per
    * word, ±1 over 64 bit counters, sign bits packed to one long).
    */
  private val simhashUdf = udf((words: Seq[String]) => {
    val acc = new Array[Int](64)
    words.foreach { w =>
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

  /** The simhash UDF chain — the reference for [[Dedup.simhash]]. NPEs
    * on a null text (the operators never fed it one).
    */
  def simhash(text: Column): Column =
    simhashUdf(split(lower(trim(text)), "\\s+"))

  /** Sign-bit LSH signature of an embedding against one table's
    * hyperplanes — the per-table reference for
    * [[graft.functions.VectorExpressions.hyperplaneSigs]].
    */
  def signatureUdf(planes: Array[Array[Double]]) =
    udf((v: Seq[Double]) => {
      var sig = 0
      var i = 0
      while (i < planes.length) {
        var s = 0.0
        val p = planes(i)
        var j = 0
        val n = math.min(p.length, v.length)
        while (j < n) { s += p(j) * v(j); j += 1 }
        if (s > 0) sig |= (1 << i)
        i += 1
      }
      sig
    })

  /** Nearest centroid by cosine: null embedding → null cluster, a vector
    * of the wrong dimension throws the named dimension error.
    */
  def nearestCentroidUdf(cents: Array[Array[Double]]) = {
    val dim = cents(0).length
    udf((v: Seq[Double]) => {
      if (v == null) None
      else {
        if (v.length != dim)
          throw new IllegalArgumentException(SimilaritySearch.dimError(v.length, dim))
        var best = 0; var bestSim = Double.MinValue
        var c = 0
        while (c < cents.length) {
          val p = cents(c)
          var s = 0.0; var pn = 0.0; var vn = 0.0
          var j = 0
          while (j < dim) { s += p(j) * v(j); pn += p(j) * p(j); vn += v(j) * v(j); j += 1 }
          val sim = s / (math.sqrt(pn) * math.sqrt(vn))
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        Some(best)
      }
    })
  }

  /** `df` plus its nearest-centroid `cluster` through the UDF — the
    * reference for [[SimilaritySearch.assignWithKernel]].
    */
  def assignWithUdf(df: DataFrame, embCol: String,
                    cents: Array[Array[Double]]): DataFrame =
    df.withColumn("cluster",
      nearestCentroidUdf(cents)(col(embCol).cast("array<double>")))

  /** Distinct word k-grams in plain Scala — the reference for
    * [[Dedup.shingles]], written out as Spark evaluates
    * `split(lower(trim(t)), "\\s+")`: `trim` strips spaces only, so a
    * leading or trailing tab or newline splits off an empty end token
    * (as the DuckDB oracles' `trim` + `regexp_split_to_array` do); `\s`
    * is ASCII whitespace; the split keeps trailing empty tokens. Null
    * text and texts of fewer than k tokens give an empty array.
    */
  def shinglesUdf(k: Int) = udf((text: String) => {
    if (text == null) Seq.empty[String]
    else {
      var a = 0
      var b = text.length
      while (a < b && text.charAt(a) == ' ') a += 1
      while (b > a && text.charAt(b - 1) == ' ') b -= 1
      val words = text.substring(a, b).toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
      words.toSeq.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq.distinct
    }
  })

  /** Non-overlapping `n`-word windows as a composite split → slice →
    * array_join expression — the reference for
    * [[ParagraphDedup.unitsByWordWindow]].
    */
  def unitsByWordWindow(text: Column, n: Int, wordSep: String = " "): Column = {
    require(n > 0, s"window must be > 0, got $n")
    val words = split(coalesce(text, lit("")), java.util.regex.Pattern.quote(wordSep))
    val nWin = floor((size(words) + lit(n - 1)).cast("double") / lit(n)).cast("long")
    transform(sequence(lit(0L), nWin - lit(1L)),
      i => array_join(slice(words, (i * n + 1).cast("int"), lit(n)), wordSep))
  }
}
