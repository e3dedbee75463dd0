package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Σ_i table(i)(codes(i)) over a nested long table and an int code
  * array — the PQ ADC fold (x60/x61) as ONE call.
  *
  * Semantically identical to the composed per-subspace chain
  * `element_at(element_at(table, i+1), element_at(codes, i+1) + 1)`
  * folded with `+` (codes are 0-based, element_at 1-based). The terms
  * are pre-rounded nano-unit longs, so the sum is exact and
  * order-independent either way.
  *
  * Why native (round-10 ANN soak): the composed 8-term chains — the
  * ADC numerator over the LUT column plus the reconstruction-norm fold
  * over the codebook literal — inflated the fused whole-stage-codegen
  * method to 9,545 bytecodes, past HotSpot's 8,000-bytecode
  * DontCompileHugeMethods limit. The stage compiled (janino) but never
  * JIT'd, executing in the bytecode interpreter: the 1M-vector x61
  * stage ran ~100× under native speed with every core busy inside the
  * generated loop. One call per fold keeps the method small enough to
  * JIT. */
case class NanoSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(LongType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_nano_sum expects (array<array<long>>, array<int>), got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nano_sum"

  override def nullSafeEval(t: Any, c: Any): Any =
    NanoSum.compute(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) =>
      s"${ev.value} = graft.functions.NanoSum.compute($t, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NanoSum {
  /** Shared by eval and generated code. Fails loudly on malformed
    * input instead of reading out of range: on UnsafeArrayData an
    * unchecked getLong past the array end reads adjacent row memory
    * and returns garbage (ADVICE r10), where the composed element_at
    * form errors — this fails the same way. The PQ invariant (|table| == |codes|, every code in
    * [0, |subtable|), i.e. [0, PqKsub)) holds for all graft-built
    * code tables; this guard is for foreign input. */
  def compute(table: ArrayData, codes: ArrayData): Long = {
    val n = table.numElements()
    if (codes.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_nano_sum: table has $n subspaces but codes has " +
          s"${codes.numElements()} entries")
    var s = 0L
    var i = 0
    while (i < n) {
      val sub = table.getArray(i)
      val c = codes.getInt(i)
      if (c < 0 || c >= sub.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"graft_nano_sum: code $c out of range [0, ${sub.numElements()}) " +
            s"at subspace $i")
      s += sub.getLong(c)
      i += 1
    }
    s
  }
}
