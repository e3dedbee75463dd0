package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `embedding − centroids(cell)` as one flat codegen'd loop — the
  * residual-PQ encode's hot subtraction
  * ([[graft.operators.Similarity]] `residualFrame`), which runs once
  * per corpus vector at index build AND per delta vector on every
  * absorb/append.
  *
  * Why native: the composable form is `zip_with(embedding, cent,
  * (x, c) => (x − c))` against a broadcast-joined centroid array —
  * and `ZipWith` is an interpreted higher-order function (no codegen;
  * per-element lambda dispatch), the exact defect class the round-7
  * domain soak caught in a join condition (`graft_dist2`'s origin
  * story) and the r12 1M residual build re-measured in the encode pass.
  * Here the centroid matrix is a single codegen reference object (the
  * [[NearestCentroid]] pattern — no broadcast join needed at all) and
  * the subtraction is a float loop.
  *
  * Semantics: out(i) = (float)(x(i) − c(i)) over i < min(|x|, |cents
  * (cell)|) — double subtraction, one float rounding, matching the
  * `(x.cast("double") − c).cast("float")` composition bit-for-bit. A
  * `cell` outside the matrix fails loudly (an unchecked read would be
  * a wrong-centroid silent corruption). */
case class CentroidResidual(left: Expression,
                            centroids: Array[Array[Double]],
                            right: Expression)
    extends BinaryExpression {

  require(centroids.nonEmpty, "graft_centroid_residual needs >= 1 centroid")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_centroid_residual expects (array<float>, int), got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "graft_centroid_residual"
  override val nullIntolerant: Boolean = true

  override def nullSafeEval(x: Any, cell: Any): Any =
    CentroidResidual.compute(
      x.asInstanceOf[ArrayData], centroids, cell.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, cell) => {
      val mat = ctx.addReferenceObj("centroids", centroids, "double[][]")
      s"""
         |${ev.value} = graft.functions.CentroidResidual.compute($a, $mat, $cell);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CentroidResidual {
  /** Shared by eval and generated code. */
  def compute(x: ArrayData, centroids: Array[Array[Double]],
              cell: Int): ArrayData = {
    if (cell < 0 || cell >= centroids.length)
      throw new ArrayIndexOutOfBoundsException(
        s"graft_centroid_residual: cell $cell out of range [0, ${centroids.length})")
    val c = centroids(cell)
    val n = math.min(x.numElements(), c.length)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = (x.getFloat(i).toDouble - c(i)).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }
}
