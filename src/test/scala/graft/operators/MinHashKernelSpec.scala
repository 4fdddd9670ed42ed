package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Parity pins for the text and vector kernels against the UDFs they
  * replaced ([[KernelReferences]]): MinHash signatures must be BIT-identical on every
  * row (same permutation family, same shingle hash, same null contract),
  * or indexes written by one path would silently stop banding against
  * batches signed by the other.
  */
class MinHashKernelSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  test("kernel ≡ UDF on the corpus and on edge rows (null / empty / sub-shingle-length / multi-byte / whitespace runs)") {
    val edge = Seq(
      (9001L, null.asInstanceOf[String]),
      (9002L, ""),
      (9003L, "two words"), // < k=3 words → null signature
      (9004L, "exactly three words"),
      (9005L, "  leading and trailing   whitespace\truns\nsplit identically  "),
      (9006L, "ünïcode worté pâr dérivation — mūltibyte shingles"),
      (9007L, "repeat repeat repeat repeat repeat")) // dedup'd shingles
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).unionByName(edge)
    val both = docs.select(col("doc_id"),
      KernelReferences.textSignatureUdf(128, 3)(col("text")).as("u"),
      graft.functions.MinHashSig.sig(col("text"), 128, 3).as("k"))
    // a mismatch row: exactly one side null, or element-wise difference
    val bad = both.filter(
      (col("u").isNull =!= col("k").isNull) ||
        (col("u").isNotNull && col("u") =!= col("k")))
    assert(bad.count() == 0L, bad.limit(5).collect().mkString("\n"))
    // the null contract fires where expected
    val nulls = both.filter(col("k").isNull).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(Set(9001L, 9002L, 9003L).subsetOf(nulls), nulls.toString)
    assert(!nulls.contains(9004L))
    // and a different family is actually different (guards against a
    // params cache accidentally keyed on nothing)
    val fam = docs.filter(col("doc_id") === 9004L).select(
      graft.functions.MinHashSig.sig(col("text"), 64, 3).as("k64"),
      graft.functions.MinHashSig.sig(col("text"), 128, 3).as("k128"))
      .head()
    assert(fam.getSeq[Long](0).length == 64 && fam.getSeq[Long](1).length == 128)
    // (no prefix relation is expected: the 64-family's bs draws overlap
    // the 128-family's as draws in the shared Random(42) stream)
  }

  test("simhash kernel ≡ UDF chain on the corpus and edge rows") {
    // null text excluded: the UDF chain NPEs on it (never fed one by the
    // operators); the kernel's null contract is the expression default
    val edge = Seq(
      (9002L, ""),
      (9005L, "  leading and trailing   whitespace\truns\nsplit identically  "),
      (9006L, "ünïcode worté pâr dérivation — mūltibyte simhash"),
      (9007L, "repeat repeat repeat repeat repeat"),
      (9008L, "\tword")) // post-trim leading \s+ -> leading "" token, both sides
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).unionByName(edge)
    val both = docs.select(col("doc_id"),
      KernelReferences.simhash(col("text")).as("u"),
      graft.functions.MinHashSig.simhash64(lower(trim(col("text")))).as("k"))
    val bad = both.filter(col("u") =!= col("k"))
    assert(bad.count() == 0L, bad.limit(5).collect().mkString("\n"))
    // null text → null signature (expression default), no NPE
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(graft.functions.MinHashSig.simhash64(lower(trim(col("t")))))
      .head().isNullAt(0))
  }

  test("hyperplane-signature kernel ≡ per-table UDFs on the embeddings corpus (incl. short and empty vectors)") {
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .unionByName(Seq(
        (900001L, Seq(0.5, -0.25)),             // shorter than dim: prefix dot
        (900002L, Seq.empty[Double])            // empty: every dot 0 → sig 0
      ).toDF("vec_id", "v"))
    val planes = SimilaritySearch.hyperplanesFor(12, 4, 64, 7L)
    val udfCols = (0 until 4).map(t =>
      KernelReferences.signatureUdf(planes(t))(col("v")).as(s"u_$t"))
    val both = emb.select(
      (col("vec_id") +:
        graft.functions.VectorExpressions.hyperplaneSigs(col("v"), planes).as("k") +:
        udfCols): _*)
    val bad = both.filter(
      (0 until 4).map(t => element_at(col("k"), t + 1) =!= col(s"u_$t"))
        .reduce(_ || _))
    assert(bad.count() == 0L, bad.limit(5).collect().mkString("\n"))
    // and an empty vector signs to all-zero in every table
    val empty = both.filter(col("vec_id") === 900002L).select("k")
      .head().getSeq[Int](0)
    assert(empty == Seq(0, 0, 0, 0), empty.toString)
  }

  test("IVF nearest-centroid kernel ≡ assignment UDF (corpus, null, zero-norm, tie) and keeps the named dimension throw") {
    import graft.operators.SimilaritySearch
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = SimilaritySearch.sampleCentroids(base, "embedding", "vec_id", 16)
    val dim = cents(0).length
    val edge = Seq(
      (800001L, null.asInstanceOf[Seq[Double]]),        // null → null cell
      (800002L, Seq.fill(dim)(0.0)),                    // zero-norm: all sims NaN → cell 0
      (800003L, cents(7).toSeq.map(_ * 2.0))            // exact direction of cell 7 (ties broken identically)
    ).toDF("vec_id", "embedding")
    // run both paths as full frames and join on vec_id
    val u = KernelReferences.assignWithUdf(base.unionByName(edge), "embedding", cents)
      .select(col("vec_id"), col("cluster").as("u"))
    val k = SimilaritySearch.assignWithKernel(base.unionByName(edge), "embedding", cents)
      .select(col("vec_id"), col("cluster").as("k"))
    val j = u.join(k, "vec_id")
    val bad = j.filter((col("u").isNull =!= col("k").isNull) ||
      (col("u").isNotNull && col("u") =!= col("k")))
    assert(bad.count() == 0L, bad.limit(5).collect().mkString("\n"))
    assert(j.filter(col("vec_id") === 800001L).head().isNullAt(1))
    assert(j.filter(col("vec_id") === 800002L).head().getInt(2) == 0)
    // wrong dimension: BOTH spellings throw the same named error
    val wrong = Seq((800009L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    for (f <- Seq(KernelReferences.assignWithUdf _, SimilaritySearch.assignWithKernel _)) {
      val e = intercept[Exception] {
        f(wrong, "embedding", cents).collect()
      }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse(""))
          .find(_.contains("IVF dimension mismatch"))).getOrElse("")
      assert(rootMsg(e).contains("IVF dimension mismatch"), e.toString)
    }
  }
}
