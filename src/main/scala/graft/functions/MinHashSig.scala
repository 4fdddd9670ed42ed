package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** text → MinHash signature as a native expression — the codegen'd form
  * of the signature UDF (VERDICT r17 probe #3; the UDF is the specs'
  * parity reference).
  * Hash family, shingling, and output are BIT-IDENTICAL to the UDF
  * (same `Random(42)` permutation derivation, same murmur3 shingle
  * hash, same `(a·x + b) mod p` fold over the same de-duplicated
  * shingle set), so signatures written by either path band and verify
  * interchangeably — parity is spec-pinned. What the expression removes
  * is the `ScalaUDF` wrapper only: the catalyst↔Scala converters (the
  * output converter boxes all `numPerm` longs per row into a
  * `GenericArrayData`; this returns an `UnsafeArrayData` primitive
  * copy), the per-row closure dispatch, and the codegen-boundary
  * spill-to-local-variables around a fallback expression. The O(shingles
  * × numPerm) arithmetic — the dominant term — is the same JIT'd loop in
  * both, which is why this was ordered as a MEASURE-FIRST probe, not a
  * rewrite.
  */
object MinHashSig {

  /** The permutation family, derived exactly as the UDF derives it —
    * one `Random(42)` stream, `as` drawn fully before `bs`. Holding it
    * in one serializable object keeps the generated code to a single
    * reference lookup.
    */
  final class Params(val k: Int, val as: Array[Long], val bs: Array[Long])
      extends Serializable {
    val numPerm: Int = as.length
  }

  def params(numPerm: Int, k: Int): Params = {
    val rnd = new scala.util.Random(42)
    val as = Array.fill(numPerm)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val bs = Array.fill(numPerm)(rnd.nextInt(Int.MaxValue).toLong)
    new Params(k, as, bs)
  }

  private val Prime = 4294967311L // > 2^32, the UDF's modulus

  /** Kernel shared by interpreted eval and generated code. Returns null
    * for sub-shingle-length documents (the UDF contract: such docs are
    * invisible to LSH).
    */
  def eval(s: UTF8String, p: Params): ArrayData = {
    val sh = graft.operators.Dedup.shingleStrings(s.toString, p.k)
    if (sh.isEmpty) return null
    val numPerm = p.numPerm
    val as = p.as
    val bs = p.bs
    val sig = new Array[Long](numPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < sh.length) {
      val x = scala.util.hashing.MurmurHash3.stringHash(sh(j), 42).toLong & 0xffffffffL
      var i = 0
      while (i < numPerm) {
        val v = (as(i) * x + bs(i)) % Prime
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Column API: `array<bigint>` MinHash signature (null when the text
    * has fewer than `k` words).
    */
  def sig(text: Column, numPerm: Int, k: Int): Column = {
    require(numPerm > 0 && k > 0, s"need numPerm > 0 and k > 0, got ($numPerm, $k)")
    GraftColumnShim.column(
      MinHashSigExpr(GraftColumnShim.expression(text), numPerm, k))
  }

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Kernel for the SIMHASH fold — the native form of the `simhash` UDF
    * chain (the specs' parity reference). The UDF receives a
    * Spark-side `split(lower(trim(text)), "\\s+")` ARRAY and converts it
    * element-by-element to a boxed `Seq[String]`; this kernel takes the
    * lowered/trimmed STRING (the same Spark expressions feed it, so
    * normalization semantics are Catalyst's, not Java's) and splits once
    * with the identical Java regex — `UTF8String.split` delegates to
    * `Pattern.split(toString, -1)`, so word boundaries are bit-identical
    * (parity spec-pinned). Fold: two seeded murmur3 hashes per word,
    * ±1 over 64 bit counters, sign bits packed to one long.
    */
  def evalSimhash(s: UTF8String): Long = {
    val words = Whitespace.split(s.toString, -1)
    val acc = new Array[Int](64)
    var j = 0
    while (j < words.length) {
      val w = words(j)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(w, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(w, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** Column API: 64-bit SimHash of an ALREADY lowered/trimmed string
    * (callers compose `lower(trim(text))` in Catalyst so normalization
    * can never drift from the UDF chain's).
    */
  def simhash64(loweredTrimmed: Column): Column =
    GraftColumnShim.column(
      SimHash64Expr(GraftColumnShim.expression(loweredTrimmed)))
}

/** 64-bit SimHash fold — see [[MinHashSig.evalSimhash]]. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires a string argument, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.evalSimhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.evalSimhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** `array<bigint>` MinHash signature — see [[MinHashSig]]. `doGenCode`
  * emits one static call so the signature projection stays inside
  * whole-stage codegen; the result can be null (sub-shingle-length
  * docs), so the generated block re-checks nullness after the call.
  */
case class MinHashSigExpr(child: Expression, numPerm: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  // keep the UDF's display name: the plan pins that count signature
  // evaluations (index path signs the batch only) match on it
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires a string argument, got ${other.simpleString}")
    }
  }

  @transient private lazy val ps = MinHashSig.params(numPerm, k)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.eval(input.asInstanceOf[UTF8String], ps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashParams", ps,
      classOf[MinHashSig.Params].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.MinHashSig.eval($c, $ref);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}
