package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector-similarity expression.
  *
  * The HOF spelling (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is NOT
  * whole-stage-codegen'd — Catalyst evaluates the lambda per element in
  * interpreted mode, which costs ~64 boxed invocations per row per
  * aggregate (×3 for dot + two norms) on the brute-force ANN path. This
  * expression fuses dot product and both norms into ONE loop over the
  * array's primitive doubles, [[CosineSimExpr.cosine]], which the
  * generated code calls — measured ~5× on the sf1 brute-force cosine
  * top-k.
  *
  * Semantics match the HOF form exactly: left fold in index order over
  * doubles, `null` when either array is null or contains a null element
  * (zip_with propagates element nulls through the sum the same way), and
  * `null` when the arrays differ in length — zip_with pads the shorter
  * side with nulls, which the sum swallows to null; a mixed-dimension
  * corpus therefore surfaces as nulls, never as a plausible-looking
  * prefix cosine.
  */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // can return null for NON-null inputs (length mismatch, null element),
  // so the default left.nullable || right.nullable is wrong when both
  // inputs are non-nullable (e.g. two literals): codegen would bind
  // ev.isNull to the false literal and the mismatch branch could not
  // assign it
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<double> arguments, got ${l.simpleString}, ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimExpr.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cos = ctx.freshName("cos")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double $cos = graft.functions.CosineSimExpr.cosine($a, $b);
      |${ev.isNull} = $cos == null;
      |if (!${ev.isNull}) ${ev.value} = $cos;
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {
  /** The cosine of two vectors: dot product and both norms summed in one
    * pass in index order; null on a length mismatch or a null element,
    * NaN when a norm is zero.
    */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }
}

/** Fused nearest-centroid argmax: `struct(cluster, cent_sim)` of the
  * centroid with the highest cosine similarity to the input vector, ties
  * to the smallest centroid id.
  *
  * The composed spelling — `greatest(struct(cosineSim(v, c0), -0), …,
  * struct(cosineSim(v, ck), -k))` — is semantically right but
  * execution-hostile at any real k: every input row allocates k structs
  * and runs k-1 field-by-field struct comparisons through the codegen'd
  * comparator, which measured 55 s PER LEG for k=64 over 200k×64-dim
  * rows (Probe q95persist, round 14) — ~97% of SemDeDup's entire
  * runtime. This expression runs the whole argmax as ONE k×dim loop over
  * primitive doubles with zero per-centroid allocation,
  * [[ArgmaxCosineExpr.argmax]], which the generated code calls.
  *
  * Semantics replicate the greatest-chain fold exactly:
  *  - ties on similarity (including NaN == NaN) keep the SMALLEST
  *    centroid id (struct comparison on the -cid field);
  *  - NaN similarity ranks ABOVE every real number (Spark double
  *    ordering), so a zero-norm input assigns to the smallest cid with
  *    cent_sim NaN — the [[graft.operators.SemDeDup]] nanvl guard
  *    depends on exactly this;
  *  - a null input array yields null (null-intolerant);
  *  - a null ELEMENT makes every centroid's cosine null (the
  *    [[CosineSimExpr]] contract), which the greatest chain resolves to
  *    (smallest cid, null cent_sim). The same resolution applies to an
  *    input vector whose LENGTH differs from the centroids' (every
  *    cosine null under the dimension-mismatch contract above) — a
  *    mixed-dimension corpus surfaces as null cent_sims, never as
  *    plausible prefix assignments. Centroids themselves must share one
  *    dimensionality (constructor-enforced), which is also what keeps
  *    these null edges order-independent.
  */
case class ArgmaxCosineExpr(child: Expression, cids: Array[Long],
                            cents: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(cids.length == cents.length && cids.nonEmpty,
    "need one id per centroid and at least one centroid")
  require(cids.sameElements(cids.sorted),
    "centroids must be sorted by id (tie-break contract)")
  require(cents.forall(_.length == cents.head.length),
    "centroids must share one dimensionality")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("cent_sim", DoubleType, nullable = true)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "argmax_cosine"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argmax_cosine requires an array<double> argument, got ${t.simpleString}")
  }

  // Per-centroid norms hoisted out of the row loop, and the input norm
  // out of the centroid loop (round 20 — the same hoist
  // [[NearestCentroidExpr]] got in round 19): sqrt(np) is a constant per
  // centroid and sqrt(nv) is constant across centroids, so the fused
  // k×dim loop was spending 2/3 of its multiply-adds recomputing them.
  // Bit parity preserved: both norms accumulate in the same index order
  // through the same sqrt, so sim = dot / (centNorm * vnorm) multiplies
  // the exact doubles the fused form produced (the NearestCentroidExpr
  // parity argument; spec-pinned kernel ≡ UDF). Null-element and
  // dimension-mismatch results are unchanged — both still yield
  // (cids(0), null) before any similarity is computed.
  @transient private lazy val centNorms = NearestCentroidExpr.norms(cents)

  override def nullSafeEval(a: Any): Any =
    ArgmaxCosineExpr.argmax(a.asInstanceOf[ArrayData], cids, cents, centNorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val normsRef = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.ArgmaxCosineExpr.argmax($v, $cidsRef, $centsRef, $normsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): ArgmaxCosineExpr =
    copy(child = newChild)
}

object ArgmaxCosineExpr {
  /** `(cluster, cent_sim)` of the centroid nearest to `v` by cosine, over
    * centroids sorted by id with their norms precomputed.
    */
  def argmax(v: ArrayData, cids: Array[Long], cents: Array[Array[Double]],
             centNorms: Array[Double]): InternalRow = {
    val d = v.numElements()
    if (d != cents.head.length)
      return InternalRow(cids(0), null) // every centroid's cosine is null
    var nv = 0.0
    var i = 0
    while (i < d) {
      if (v.isNullAt(i))
        return InternalRow(cids(0), null) // every centroid's cosine is null
      val xv = v.getDouble(i)
      nv += xv * xv
      i += 1
    }
    val vnorm = math.sqrt(nv)
    var bestIdx = 0
    var bestSim = 0.0
    var c = 0
    while (c < cents.length) {
      val p = cents(c)
      var dot = 0.0
      var j = 0
      while (j < d) { dot += p(j) * v.getDouble(j); j += 1 }
      val sim = dot / (centNorms(c) * vnorm)
      if (c == 0 || better(sim, bestSim)) { bestIdx = c; bestSim = sim }
      c += 1
    }
    InternalRow(cids(bestIdx), bestSim)
  }

  /** sim beats best iff strictly greater under Spark double ordering
    * (NaN above everything, NaN == NaN); iterating cids ascending makes
    * "not better" keep the smallest id on ties.
    */
  private def better(sim: Double, best: Double): Boolean =
    if (java.lang.Double.isNaN(sim)) !java.lang.Double.isNaN(best)
    else !java.lang.Double.isNaN(best) && sim > best
}

/** All `nTables` random-hyperplane LSH signatures of an embedding in ONE
  * generated pass — the native form of
  * [[graft.operators.SimilaritySearch]]'s per-table signature UDF
  * (round 18, same measure-first discipline as the MinHash/SimHash
  * kernels). The UDF form pays the catalyst→Scala conversion (a boxed
  * `Seq[Double]` per row) once PER TABLE; this expression reads the
  * `ArrayData` primitives directly and emits all table signatures as one
  * `array<int>`, so `posexplode` consumes it without the intermediate
  * `array(sig_0 … sig_T)` projection. Bit parity with the UDF: identical
  * seeded plane derivation (caller passes the same `hyperplanes` output),
  * identical prefix-`min(dim, |v|)` dot products in the same order, sign
  * rule `s > 0`. One divergence, strictly more defined: a null ELEMENT
  * reads as whatever the array slot holds (the UDF NPEs); embeddings are
  * non-null-element by schema everywhere this runs.
  */
case class HyperplaneSigsExpr(child: Expression,
                              planes: Array[Array[Array[Double]]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(planes.nonEmpty && planes.forall(_.nonEmpty), "need ≥1 table, ≥1 bit")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sigs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sigs requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    HyperplaneSigsExpr.evalSigs(a.asInstanceOf[ArrayData], planes)

  // named evalSigs, not eval — see the kernel-naming rule in the
  // [[graft.functions]] package doc
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes,
      "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneSigsExpr.evalSigs($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigsExpr =
    copy(child = newChild)
}

object HyperplaneSigsExpr {
  def evalSigs(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val nv = v.numElements()
    val sigs = new Array[Int](planes.length)
    var t = 0
    while (t < planes.length) {
      val table = planes(t)
      var sig = 0
      var i = 0
      while (i < table.length) {
        val p = table(i)
        var s = 0.0
        val n = math.min(p.length, nv)
        var j = 0
        while (j < n) { s += p(j) * v.getDouble(j); j += 1 }
        if (s > 0) sig |= (1 << i)
        i += 1
      }
      sigs(t) = sig
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(sigs)
  }
}

/** IVF nearest-centroid assignment in one generated pass — the native
  * form of [[graft.operators.SimilaritySearch]]'s per-row assignment UDF
  * (round 18, same measure-first discipline as the signature kernels).
  * NOT [[ArgmaxCosineExpr]]: the IVF contract differs in exactly the
  * places SemDeDup's must not — a wrong-DIMENSION vector THROWS the
  * named `IVF dimension mismatch` error (the spec-pinned append/query
  * contract; Argmax returns a null-sim struct), ties and NaN follow the
  * UDF's `sim > bestSim` over a `Double.MinValue` seed (first index
  * wins ties; an all-NaN zero-norm vector lands in cell 0), and the
  * output is the bare int cell id. Null input → null (null-intolerant).
  * One divergence, strictly more defined, same as [[HyperplaneSigsExpr]]:
  * a null ELEMENT reads as the slot's raw 0.0 where the UDF's boxed
  * `Seq[Double]` also unboxes null to 0.0 — identical results;
  * embeddings are non-null-element by schema everywhere this runs.
  */
case class NearestCentroidExpr(child: Expression, cents: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "need ≥1 centroid, one shared dimensionality")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<double>, got ${other.simpleString}")
  }

  // per-centroid norms hoisted out of the row loop (ADVICE r19): sqrt(pn)
  // is a constant per centroid — recomputing it per row was k×dim
  // redundant multiply-adds, ~a third of the inner-loop FLOPs. Bit parity
  // preserved: the norm accumulates in the same index order with the
  // same sqrt, so sim = dot / (norm * sqrt(vn)) multiplies the exact
  // doubles the fused form produced (spec-pinned kernel ≡ UDF).
  @transient private lazy val centNorms = NearestCentroidExpr.norms(cents)

  override def nullSafeEval(a: Any): Any =
    NearestCentroidExpr.evalNearest(a.asInstanceOf[ArrayData], cents, centNorms)

  // named evalNearest, not eval — see the kernel-naming rule in the
  // [[graft.functions]] package doc
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    val normsRef = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NearestCentroidExpr.evalNearest($c, $ref, $normsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
}

object NearestCentroidExpr {
  /** Per-centroid L2 norms, accumulated in the same index order (and
    * through the same sqrt) as the fused per-row loop did — so hoisting
    * them changes zero result bits.
    */
  def norms(cents: Array[Array[Double]]): Array[Double] = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val p = cents(c)
      var pn = 0.0
      var j = 0
      while (j < p.length) { pn += p(j) * p(j); j += 1 }
      out(c) = math.sqrt(pn)
      c += 1
    }
    out
  }

  def evalNearest(v: ArrayData, cents: Array[Array[Double]],
                  centNorms: Array[Double]): Int = {
    val dim = cents(0).length
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        graft.operators.SimilaritySearch.dimError(v.numElements(), dim))
    // the input norm is constant across centroids too — hoisted on the
    // same bit-parity argument (identical accumulation order + sqrt)
    var vn = 0.0
    var j = 0
    while (j < dim) { val xv = v.getDouble(j); vn += xv * xv; j += 1 }
    val vnorm = math.sqrt(vn)
    var best = 0; var bestSim = Double.MinValue
    var c = 0
    while (c < cents.length) {
      val p = cents(c)
      var s = 0.0
      var i = 0
      while (i < dim) { s += p(i) * v.getDouble(i); i += 1 }
      val sim = s / (centNorms(c) * vnorm)
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }
}

object VectorExpressions {
  /** Cosine similarity of two `array<double>` columns, codegen'd. */
  def cosineSim(a: Column, b: Column): Column =
    GraftColumnShim.column(CosineSimExpr(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  /** All-tables hyperplane LSH signatures, one pass — see
    * [[HyperplaneSigsExpr]].
    */
  def hyperplaneSigs(v: Column, planes: Array[Array[Array[Double]]]): Column =
    GraftColumnShim.column(HyperplaneSigsExpr(
      GraftColumnShim.expression(v), planes))

  /** IVF cell assignment (bare int id, UDF-parity contract incl. the
    * named dimension throw) — see [[NearestCentroidExpr]].
    */
  def nearestCentroid(v: Column, cents: Array[Array[Double]]): Column =
    GraftColumnShim.column(NearestCentroidExpr(
      GraftColumnShim.expression(v), cents))

  /** Nearest-centroid assignment as one fused codegen'd loop:
    * `struct(cluster, cent_sim)` over a driver-side centroid matrix
    * (compiled in as a reference object — k×dim doubles, KBs). Ties to
    * the smallest centroid id; see [[ArgmaxCosineExpr]].
    */
  def argmaxCosine(v: Column, centroids: Array[(Long, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    GraftColumnShim.column(ArgmaxCosineExpr(
      GraftColumnShim.expression(v), sorted.map(_._1), sorted.map(_._2)))
  }
}
