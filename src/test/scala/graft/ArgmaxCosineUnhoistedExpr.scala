package graft

/** The rounds-14..19 [[graft.functions.ArgmaxCosineExpr]] shape, kept
  * verbatim as the parity reference for the norm-hoisted kernel: both
  * norms recomputed inside the per-centroid loop (np per centroid per
  * row, nv per centroid). Test-only — never wire into an operator.
  */
case class ArgmaxCosineUnhoistedExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    cids: Array[Long], cents: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._

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
  override def prettyName: String = "argmax_cosine_unhoisted"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argmax_cosine requires an array<double> argument, got ${t.simpleString}")
  }

  private def better(sim: Double, best: Double): Boolean =
    if (java.lang.Double.isNaN(sim)) !java.lang.Double.isNaN(best)
    else !java.lang.Double.isNaN(best) && sim > best

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val d = v.numElements()
    if (d != cents.head.length)
      return InternalRow(cids(0), null)
    var bestIdx = 0
    var bestSim = 0.0
    var c = 0
    while (c < cents.length) {
      val p = cents(c)
      var dot = 0.0; var np = 0.0; var nv = 0.0
      var i = 0
      while (i < d) {
        if (v.isNullAt(i))
          return InternalRow(cids(0), null)
        val xv = v.getDouble(i)
        dot += p(i) * xv; np += p(i) * p(i); nv += xv * xv
        i += 1
      }
      val sim = dot / (math.sqrt(np) * math.sqrt(nv))
      if (c == 0 || better(sim, bestSim)) { bestIdx = c; bestSim = sim }
      c += 1
    }
    InternalRow(cids(bestIdx), bestSim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
      val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
      val d = ctx.freshName("d")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val dot = ctx.freshName("dot")
      val np = ctx.freshName("np")
      val nv = ctx.freshName("nv")
      val xv = ctx.freshName("xv")
      val sim = ctx.freshName("sim")
      val bestIdx = ctx.freshName("bestIdx")
      val bestSim = ctx.freshName("bestSim")
      val nullElem = ctx.freshName("nullElem")
      val outer = ctx.freshName("outer")
      val btr = ctx.freshName("btr")
      val row = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
      s"""
         |int $d = $v.numElements();
         |int $bestIdx = 0; double $bestSim = 0.0;
         |boolean $nullElem = ($d != $centsRef[0].length);
         |$outer:
         |for (int $c = 0; !$nullElem && $c < $centsRef.length; $c++) {
         |  double[] $p = $centsRef[$c];
         |  double $dot = 0.0; double $np = 0.0; double $nv = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    if ($v.isNullAt($i)) { $nullElem = true; break $outer; }
         |    double $xv = $v.getDouble($i);
         |    $dot += $p[$i] * $xv; $np += $p[$i] * $p[$i]; $nv += $xv * $xv;
         |  }
         |  double $sim = $dot / (java.lang.Math.sqrt($np) * java.lang.Math.sqrt($nv));
         |  boolean $btr = java.lang.Double.isNaN($sim)
         |    ? !java.lang.Double.isNaN($bestSim)
         |    : (!java.lang.Double.isNaN($bestSim) && $sim > $bestSim);
         |  if ($c == 0 || $btr) { $bestIdx = $c; $bestSim = $sim; }
         |}
         |${ev.value} = $nullElem
         |  ? new $row(new Object[]{java.lang.Long.valueOf($cidsRef[0]), null})
         |  : new $row(new Object[]{java.lang.Long.valueOf($cidsRef[$bestIdx]),
         |      java.lang.Double.valueOf($bestSim)});
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): ArgmaxCosineUnhoistedExpr =
    copy(child = newChild)
}
