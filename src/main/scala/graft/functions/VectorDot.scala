package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd dot product of two numeric array columns, in
  * DOUBLE with sequential (index-order) accumulation — the exact
  * summation order DuckDB's `list_sum(list_transform(...))` uses, so
  * cosine rankings built on it stay hash-identical to the oracle while
  * running inside whole-stage codegen instead of an interpreted
  * higher-order `aggregate()` lambda (~5x on the similarity queries,
  * same win PlanSpec documents for the simhash aggregation).
  *
  * Semantics: Σ a(i)·b(i) over i < min(|a|, |b|); elements are assumed
  * non-null (embedding vectors). Floats widen to double per element.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val fx = isFloat(left); val fy = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val getX =
        if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY =
        if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $getX * $getY; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd SQUARED Euclidean distance Σ (a(i)−b(i))² over
  * i < min(|a|, |b|) of two numeric array columns.
  *
  * Exists because the two obvious compositions both fail at scale in
  * the kNN candidate join, where the distance filter is pushed into
  * the sort-merge-join condition and evaluated once per CANDIDATE
  * PAIR:
  *  - `‖a‖² + ‖b‖² − 2·graft_dot(a,b)` stays fully codegen'd but
  *    cancels catastrophically for near-coincident points with large
  *    norms (error ~ ‖a‖·√ε) — misranking ties and jittering the
  *    radius-boundary filter exactly on the coincident-heavy data the
  *    domain soak targets;
  *  - `graft_dot(zip_with(a,b,_-_), zip_with(a,b,_-_))` is exact, but
  *    `ZipWith` is an interpreted higher-order function: the 1M-cell
  *    domain soak measured the integration anchor search pinned at
  *    ~16 cores for 20+ minutes with every worker inside
  *    `ZipWith.eval` under the join's `SpecificPredicate` (the same
  *    interpreted-lambda-per-pair failure SOAK_domain.md finding 3
  *    records).
  * The difference form in a single flat codegen loop is both exact to
  * the inputs' precision and allocation-free.
  *
  * Semantics: Σ (a(i)−b(i))² over i < min(|a|, |b|); elements are
  * assumed non-null (embedding/PC vectors), same contract as
  * [[VectorDot]]. A null element reads as 0.0 here (a `zip_with`
  * composition would yield NULL for the whole distance) — callers
  * must not feed nullable-element arrays. */
case class VectorDist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dist2 expects array<float|double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dist2"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val fx = isFloat(left); val fy = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val getX =
        if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY =
        if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $getX - $getY;
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
