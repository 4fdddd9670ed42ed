package graft.functions

import org.apache.spark.sql.{DataFrame, GraftColumnShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Codegen-fallback regression net for the shipped expression kernels
  * (round 19, VERDICT r18 #2).
  *
  * Spark SWALLOWS Janino compile failures by design: whole-stage codegen
  * falls back to the interpreted child plan, projection factories fall
  * back to interpreted expressions — results stay correct, performance
  * silently regresses to interpreter mode. Exactly this shipped a round:
  * `HyperplaneSigsExpr`'s generated code called a companion method named
  * `eval`, which gets NO static forwarder (the case class inherits
  * `Expression.eval`, so scalac skips it), Janino failed, and the 9–14×
  * kernel win was measured WITH the fallback. It was caught by luck.
  *
  * This suite runs every shipped kernel in a session where the fallback
  * is a HARD ERROR — `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (the
  * projection/predicate factory path) plus `spark.sql.codegen.fallback=
  * false` (the whole-stage path, where the r18 bug actually hid) — and
  * proves the net itself works by re-creating the forwarder bug in a
  * deliberately-broken expression and asserting it FAILS here while
  * succeeding (silently interpreted) under the default session.
  */
class CodegenOnlySpec extends AnyFunSuite {

  /** A child session of the shared test session (own SQLConf — the
    * hardened flags must not leak into the other suites) where any
    * codegen failure throws instead of demoting to interpreter mode.
    */
  lazy val spark = {
    val s = graft.TestSpark.spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  /** Collect under the hardened session, asserting the plan actually
    * went THROUGH whole-stage codegen (a plan that never generates code
    * proves nothing about the kernel's `doGenCode`).
    */
  private def hard(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]),
      s"plan skipped whole-stage codegen entirely:\n${df.queryExecution.executedPlan}")
    df.collect()
  }

  /** Inputs must DEPEND on a non-foldable column: a projection of pure
    * literals over a LocalRelation is constant-folded / converted to a
    * LocalTableScan at optimization time — evaluated INTERPRETED inside
    * Catalyst, with no codegen anywhere — and the net would assert
    * nothing. Indexing a literal array with `range`'s id keeps every
    * kernel in the executed (whole-stage-codegen'd) plan.
    */
  private def texts: DataFrame = {
    val ts = Seq(
      "the quick brown fox jumps over the lazy dog again and again and again",
      "pack my box with five dozen liquor jugs every single day",
      "ünïcode multibyte worté pâr dérivation keeps byte offsets honest")
    spark.range(ts.length).select(
      element_at(array(ts.map(lit): _*), (col("id") + 1).cast("int")).as("text"))
  }

  test("text kernels execute under CODEGEN_ONLY (MinHashSig / SimHash64 / WordWindows / RollingHash / GramHashes / GramHashCounts / TermHits)") {
    val rows = hard(texts.select(
      MinHashSig.sig(col("text"), 32, 3).as("sig"),
      MinHashSig.simhash64(lower(trim(col("text")))).as("sim"),
      WordWindows.windows(col("text"), 4, " ").as("win"),
      TextFunctions.rollingHash(col("text")).as("rh"),
      GramHash.gramHashes(col("text"), 3, 1).as("gh"),
      GramHash.gramHashCounts(col("text"), 3, 1).as("ghc"),
      TermHits.termHits(col("text"), Seq("the", "box")).as("th")))
    assert(rows.length == 3)
    assert(rows.forall(r => r.getSeq[Long](0).length == 32))
    assert(rows.forall(r => r.getSeq[String](2).nonEmpty))
  }

  test("sorted_jaccard64 executes under CODEGEN_ONLY (both the branch-free and null-checked loop shapes)") {
    // branch-free shape: a producer whose schema has containsNull=false
    // (the shipped shingle-hash UDF's `array<bigint>` is one); arrays are
    // id-dependent to defeat constant folding (see `texts`)
    val nonNull = spark.range(3).select(
      array(col("id") + 1, lit(5L), lit(6L)).as("a"),
      array(col("id") + 1, lit(5L), lit(7L)).as("b"))
    assert(!nonNull.schema("a").dataType.asInstanceOf[ArrayType].containsNull)
    val j = hard(nonNull.select(JaccardExpressions.sortedJaccard(
      col("a"), col("b")).as("j")))
    assert(j.forall(_.getDouble(0) == 0.5))
    // null-checked shape: a nullable-element array schema (the persisted
    // index read path) generates the per-element check branch; arrays
    // are id-dependent to defeat constant folding (see `texts`)
    val nullable = spark.range(1).select(
      array(col("id") + 1, lit(2L), lit(3L))
        .cast(ArrayType(LongType, containsNull = true)).as("a"),
      array(col("id") + 2, lit(3L), lit(4L))
        .cast(ArrayType(LongType, containsNull = true)).as("b"))
    val j2 = hard(nullable.select(
      JaccardExpressions.sortedJaccard(col("a"), col("b")).as("j")))
    assert(j2.head.getDouble(0) == 0.5)
  }

  test("vector kernels execute under CODEGEN_ONLY (CosineSim / HyperplaneSigs / NearestCentroid / ArgmaxCosine)") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    val vecData = Seq.tabulate(6)(_ => Array.fill(dim)(rnd.nextGaussian()))
    // id-indexed literal matrix — see `texts` for why
    val vecs = spark.range(vecData.length).select(
      element_at(array(vecData.map(v => array(v.map(lit).toIndexedSeq: _*)): _*),
        (col("id") + 1).cast("int")).as("v"))
    val planes = graft.operators.SimilaritySearch.hyperplanesFor(12, 4, dim, 7L)
    val cents = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => math.sin(c * 17 + j).toDouble))
    val rows = hard(vecs.select(
      VectorExpressions.cosineSim(col("v"), col("v")).as("cs"),
      VectorExpressions.hyperplaneSigs(col("v"), planes).as("hs"),
      VectorExpressions.nearestCentroid(col("v"), cents).as("nc"),
      VectorExpressions.argmaxCosine(col("v"),
        cents.zipWithIndex.map { case (p, i) => (i.toLong, p) }).as("am")))
    assert(rows.length == 6)
    assert(rows.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
    assert(rows.forall(r => r.getSeq[Int](1).length == 4))
    assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 4))
    // the hoisted-norms path (round 19) agrees with the argmax struct's
    // cluster on the same centroids (same tie regime on random data)
    assert(rows.forall(r => r.getStruct(3).getLong(0) == r.getInt(2).toLong))
  }

  test("the net catches the exact r18 bug class: a companion delegate named `eval` throws here, silently interprets under the default session") {
    val broken = GraftColumnShim.column(
      BrokenForwarderExpr(GraftColumnShim.expression(col("id"))))
    // hardened session: Janino cannot resolve the static call (no
    // forwarder — the case class inherits Expression.eval) and the
    // failure must SURFACE, not demote
    val e = intercept[Throwable] {
      spark.range(5).select(broken.as("x")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => x.getClass.getName + ": " + Option(x.getMessage).getOrElse(""))
        .toSeq
    assert(chain(e).exists(m => m.toLowerCase.contains("compil") ||
      m.contains("janino") || m.contains("CODEGEN_ONLY")), chain(e).mkString("\n"))
    // default session (fallback allowed): the same plan SUCCEEDS with
    // correct results — which is precisely why it needs this net; the
    // regression would be invisible to every correctness gate
    val quiet = graft.TestSpark.spark.range(5).select(broken.as("x")).collect()
    assert(quiet.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }
}

/** Deliberately re-creates the round-18 silent-fallback bug for the net
  * test above: the companion delegate is named `eval`, the case class
  * inherits `Expression.eval`, so scalac emits NO static forwarder and
  * Janino fails to compile the generated call. DO NOT "fix" the name —
  * this expression exists to prove the hardened session catches the bug.
  */
case class BrokenForwarderExpr(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "broken_forwarder"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"needs bigint, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    BrokenForwarderExpr.eval(a.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BrokenForwarderExpr.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): BrokenForwarderExpr =
    copy(child = newChild)
}

object BrokenForwarderExpr {
  def eval(x: Long): Long = x + 1
}
