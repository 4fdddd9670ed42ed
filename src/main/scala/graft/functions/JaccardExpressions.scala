package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native merge-intersection Jaccard over two SORTED DISTINCT
  * `array<bigint>` columns — the exact-verify kernel of every MinHash
  * path ([[graft.operators.Dedup]] q47/q48/q96/q97 and the streaming
  * loop): per candidate pair, intersection and union are computed in
  * ONE merge loop over the arrays' primitive longs,
  * [[SortedJaccardExpr.jaccard]], which the generated code calls.
  *
  * The Scala-UDF spelling this replaces paid, per candidate pair, two
  * `WrappedArray` wrappers plus a boxed `java.lang.Long` per element
  * on the deserialization path — on dup-heavy corpora the verify stage
  * evaluates millions of pairs whose arrays average hundreds of
  * elements, so the boxing dominated the actual merge loop. This
  * expression participates in whole-stage codegen and reads
  * `ArrayData.getLong` directly (zero allocation per pair).
  *
  * Semantics are pinned to the UDF it replaces, spec-asserted
  * value-identical: result is `round(|a∩b| / |a∪b| × 10⁴) / 10⁴`, and
  * a NULL or EMPTY array on either side yields **0.0, never null**
  * (a doc with no shingles near-duplicates nothing — callers filter
  * `jaccard >= threshold`, so 0.0 and null would behave identically
  * at the filter but not in emitted pair rows). PRECONDITIONS (both
  * guaranteed by the shingle-hash producer, `shingleHashes64`): arrays
  * are sorted ascending with distinct, non-null elements.
  *
  * The non-null-elements precondition is MACHINE-CHECKED where a null
  * can occur: when an input's schema says `containsNull = true`, the
  * kernel first scans both arrays for null elements and throws a named
  * error instead of silently reading null as 0 the way
  * `ArrayData.getLong` would (a wrong jaccard with no signal). The
  * schemas decide this once per expression: `doGenCode` passes the
  * decision to [[SortedJaccardExpr.jaccard]] as a literal `checkNulls`
  * flag, so with both schemas `containsNull = false` each pair costs one
  * branch on a constant and the merge loop itself carries no null
  * check. The split lands exactly right:
  * in-plan producers (`shingleHashes64` feeding the verify join —
  * q47/q48/q96 and every self-join path) prove non-null in their schema
  * and pay only that branch, while arrays READ FROM STORAGE (the persisted
  * index's `hashes`) arrive `containsNull = true` because Spark's file
  * sources force `asNullable` on every scan schema — and a stored file
  * is precisely where an out-of-band producer could have written a
  * null, so the one-branch-per-element check is load-bearing there.
  */
case class SortedJaccardExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false // null input → 0.0 by contract
  override def prettyName: String = "sorted_jaccard64"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sorted_jaccard64 requires two array<bigint> arguments, got ${l.simpleString}, ${r.simpleString}")
  }

  /** True when either input's schema admits null ELEMENTS — only then
    * does the kernel pay a per-element check (throwing
    * [[SortedJaccardExpr.nullElementError]]).
    */
  private def mayContainNullElements: Boolean = Seq(left, right).exists {
    e => e.dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    }
  }

  override def eval(input: InternalRow): Any = SortedJaccardExpr.jaccard(
    left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData],
    mayContainNullElements)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val call = code"""
      |double ${ev.value} = graft.functions.SortedJaccardExpr.jaccard(
      |  ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value}, $mayContainNullElements);
      |""".stripMargin
    ev.copy(code = l.code + r.code + call, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedJaccardExpr {
  /** Jaccard of two sorted distinct arrays by merge-intersection, rounded
    * to 4 places; a null (or empty) array on either side gives 0.0.
    * `checkNulls` scans both arrays for null elements first.
    */
  def jaccard(a: ArrayData, b: ArrayData, checkNulls: Boolean): Double = {
    if (a == null || b == null) return 0.0
    val an = a.numElements(); val bn = b.numElements()
    if (an == 0 || bn == 0) return 0.0
    if (checkNulls) {
      var i = 0
      while (i < an) { if (a.isNullAt(i)) nullElementError(); i += 1 }
      var j = 0
      while (j < bn) { if (b.isNullAt(j)) nullElementError(); j += 1 }
    }
    var i = 0; var j = 0; var inter = 0
    while (i < an && j < bn) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = an + bn - inter
    math.round(inter.toDouble / union * 10000.0) / 10000.0
  }

  private def nullElementError(): Nothing = throw new IllegalArgumentException(
    "sorted_jaccard64: input array contains a null element — inputs must " +
      "be sorted distinct non-null 64-bit shingle hashes (shingleHashes64)")
}

object JaccardExpressions {
  /** Exact Jaccard of two sorted distinct `array<bigint>` columns. */
  def sortedJaccard(a: Column, b: Column): Column =
    GraftColumnShim.column(SortedJaccardExpr(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))
}
