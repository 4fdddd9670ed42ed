package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kernel ≡ reference on generated inputs: each codegen kernel is run
  * next to its [[KernelReferences]] spelling over one DataFrame of
  * generated rows, and every row must agree. Inputs come from fixed
  * scalacheck seeds, so a failure reproduces run to run; generated text
  * covers empty strings, texts shorter than k words, multibyte
  * characters, runs of mixed whitespace and multi-character separators.
  */
class KernelPropertiesSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val Rows = 400

  private def sample[T](gen: Gen[T], seed: Long): Seq[T] =
    Gen.listOfN(Rows, gen).pureApply(Gen.Parameters.default, Seed(seed))

  private val word: Gen[String] = Gen.oneOf("the", "quick", "Brown", "FOX", "a",
    "ünïcode", "wörld", "ß", "İstanbul", "ΣΊΣΥΦΟΣ", "日本語", "テキスト", "😀x", "--", "ö")
  private val gap: Gen[String] = Gen.frequency(8 -> Gen.const(" "),
    1 -> Gen.const("  "), 1 -> Gen.const("\t"), 1 -> Gen.const("\n \n"),
    1 -> Gen.const("ö"), 1 -> Gen.const("---"))

  /** Texts: empty, whitespace only, fewer words than any k below, and
    * longer runs with optional leading and trailing gaps.
    */
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.oneOf(" ", "   ", "\t\n"),
    3 -> Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" ")),
    10 -> (for {
      n <- Gen.choose(3, 40)
      ws <- Gen.listOfN(n, word)
      gs <- Gen.listOfN(n, gap)
      lead <- Gen.oneOf("", " ", "\t ")
      trail <- Gen.oneOf(true, false)
      body = ws.zip(gs).map { case (w, g) => w + g }.mkString
    } yield lead + (if (trail) body else body.dropRight(gs.last.length))))

  /** Rows where any (kernel, reference) column pair differs, nulls equal.
    * Each kernel runs both ways: straight over the local rows, where the
    * optimizer evaluates the projection interpreted, and above a
    * repartition, where it runs in generated code.
    */
  private def mismatches(df: DataFrame, pairs: Seq[(Column, Column)]): Seq[String] = {
    val cols = pairs.zipWithIndex.flatMap { case ((k, r), i) => Seq(k.as(s"k$i"), r.as(s"r$i")) }
    val differs = pairs.indices.map(i => !(col(s"k$i") <=> col(s"r$i"))).reduce(_ || _)
    Seq("interpreted" -> df, "codegen" -> df.repartition(2)).flatMap { case (path, in) =>
      in.select((col("*") +: cols): _*).filter(differs)
        .limit(5).collect().map(r => s"$path: $r")
    }
  }

  test("MinHashSig.sig ≡ the signature UDF on generated text") {
    val df = (sample(text, 1L).map(Option(_)) :+ None).toDF("t")
    val bad = mismatches(df, Seq((128, 3), (16, 1), (32, 5)).map { case (p, k) =>
      graft.functions.MinHashSig.sig(col("t"), p, k) ->
        KernelReferences.textSignatureUdf(p, k)(col("t"))
    })
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("simhash64 ≡ the simhash UDF chain on generated text") {
    val df = sample(text, 2L).toDF("t")
    val bad = mismatches(df, Seq(Dedup.simhash(col("t")) -> KernelReferences.simhash(col("t"))))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("sortedJaccard ≡ the merge-intersection UDF on generated sorted distinct arrays") {
    val values = Gen.frequency(20 -> Gen.choose(-30L, 30L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))
    val set: Gen[Seq[Long]] = Gen.frequency(
      1 -> Gen.const(null: Seq[Long]),
      1 -> Gen.const(Seq.empty[Long]),
      8 -> Gen.containerOf[Set, Long](values).map(_.toSeq.sorted))
    val pair = for { a <- set; b <- Gen.oneOf(Gen.const(a), set) } yield (a, b)
    val df = sample(pair, 3L).toDF("a", "b")
    val bad = mismatches(df, Seq(
      graft.functions.JaccardExpressions.sortedJaccard(col("a"), col("b")) ->
        KernelReferences.sortedJaccardUdf(col("a"), col("b"))))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("Dedup.shingles ≡ the plain-Scala word n-gram reference on generated text, incl. tabs and newlines at either end") {
    val end = Gen.oneOf("", " ", "  ", "\t", "\n", " \t", "\n ", "\t\n")
    val edged: Gen[String] = for {
      body <- Gen.frequency(1 -> Gen.const(""), 1 -> Gen.oneOf(" ", "\t", "\n", " \t\n "),
        8 -> text)
      lead <- end
      trail <- end
    } yield lead + body + trail
    val df = (sample(edged, 5L).map(Option(_)) :+ None).toDF("t")
    val bad = mismatches(df, Seq(1, 2, 3, 5).map(k =>
      Dedup.shingles(col("t"), k) -> KernelReferences.shinglesUdf(k)(col("t"))))
    assert(bad.isEmpty, bad.mkString("\n"))
    // the boundary the reference encodes: a tab or newline at either end
    // is not trimmed and yields an empty end token
    val ends = Seq("\tfoo bar baz\n").toDF("t")
      .select(Dedup.shingles(col("t"), 1)).head().getSeq[String](0)
    assert(ends == Seq("", "foo", "bar", "baz"), ends.toString)
    intercept[IllegalArgumentException](Dedup.shingles(col("t"), 0))
  }

  test("WordWindows ≡ the split → slice → array_join composite on generated text") {
    val df = (sample(text, 4L).map(Option(_)) :+ None).toDF("t")
    val bad = mismatches(df, for (n <- Seq(1, 2, 3, 7); sep <- Seq(" ", "ö", "--")) yield
      ParagraphDedup.unitsByWordWindow(col("t"), n, sep) ->
        KernelReferences.unitsByWordWindow(col("t"), n, sep))
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
