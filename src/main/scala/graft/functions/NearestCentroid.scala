package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment of an embedding against a trained
  * quantizer, as ONE flat codegen'd loop nest — the IVF/k-means/
  * SemDeDup hot path ([[graft.operators.Similarity]] `trainAndAssign`).
  *
  * Returns the argmax over centroids j of `2·(x·c_j) − ‖c_j‖²`
  * (equivalent to nearest-by-L2), the dot in sequential double
  * accumulation over the common prefix, ties keeping the FIRST max —
  * bit-identical to the composed form
  * `array_position(scores, array_max(scores)) − 1` over per-centroid
  * `graft_dot` columns (NaN scores aside: the composed form would
  * select a NaN as the max, this one never does; quantizer scores are
  * finite by construction).
  *
  * The composed form is O(nlist) separate expressions whose generated
  * code grows past JIT/Janino comfort around nlist ≈ 10² — measured at
  * nlist=256 on 1M vectors it ran at ~11 MFLOP/s (a 25-minute
  * straggler, found by the ANN soak). Here the centroid matrix is a
  * single codegen reference object and the loop nest stays ~30 lines
  * for ANY nlist, running at memory speed; production quantizers
  * (nlist 10³–10⁵) only grow the reference array. */
case class NearestCentroid(child: Expression,
                           centroids: Array[Array[Double]])
    extends UnaryExpression {

  require(centroids.nonEmpty, "graft_nearest_centroid needs >= 1 centroid")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid expects array<float|double>, got ${other.sql}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  /** Null in → null out, so Catalyst rewrites a join's
    * `isnotnull(cell)` key filter to `isnotnull(embedding)` instead of
    * duplicating the whole argmax below the exchange (the composed
    * form's duplicated-filter cost was half the x14 straggler). */
  override val nullIntolerant: Boolean = true

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** ‖c_j‖², precomputed with the same `c.map(x => x*x).sum` fold the
    * composed form embeds as a literal. */
  @transient private lazy val sumsq: Array[Double] =
    centroids.map(_.map(x => x * x).sum)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val fx = isFloat
    var best = Double.NegativeInfinity
    var bestJ = 0
    var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      val n = math.min(nx, c.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
        s += xv * c(i)
        i += 1
      }
      val score = s * 2.0 - sumsq(j)
      if (score > best) { best = score; bestJ = j }
      j += 1
    }
    bestJ
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mat = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val sq = ctx.addReferenceObj("sumsq", sumsq, "double[]")
      val nx = ctx.freshName("nx")
      val best = ctx.freshName("best")
      val bestJ = ctx.freshName("bestJ")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val score = ctx.freshName("score")
      val getX = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $nx = $a.numElements();
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestJ = 0;
         |for (int $j = 0; $j < $mat.length; $j++) {
         |  double[] $c = $mat[$j];
         |  int $n = java.lang.Math.min($nx, $c.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $s += $getX * $c[$i]; }
         |  double $score = $s * 2.0 - $sq[$j];
         |  if ($score > $best) { $best = $score; $bestJ = $j; }
         |}
         |${ev.value} = $bestJ;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
