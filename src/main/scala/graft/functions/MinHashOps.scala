package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd k=16 MinHash signature of a pre-folded
  * hashed-shingle ARRAY column: m_j = MIN over the array of
  * (a_j·h + b_j) mod P, the exact integer math of
  * [[TextFunctions.minHashJ]] (products stay < 2⁶² — no overflow).
  *
  * Exists for the round-9 scratch fix: signatures used to be a
  * `min()` AGGREGATION over an exploded global (doc_id, hm) relation,
  * which forced the full shingle table through shuffle exchanges —
  * the per-branch disk probe measured the LSH branch alone leaving
  * ~19 GB of shuffle files at 1.25M docs and exhausting an 83 GB
  * scratch volume at 5M (SOAK_corpus.md round 9). The shingle SET of
  * a document is row-local, so the signature is too: this expression
  * computes all 16 mins in one flat loop inside whole-stage codegen —
  * zero shuffle, zero interpreted-lambda evals (a composed HOF form pays
  * k·|hma| lambda dispatches per row; cf. the x37 lesson).
  *
  * Returns array<long> of length k; an EMPTY input array yields an
  * empty result array (callers filter shingle-less docs out before
  * banding, matching the exploded form where such docs had no rows). */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<long>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(MinHashSig.sig(a.asInstanceOf[ArrayData]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashSig.sig($a));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  private val P = TextFunctions.MinHashP
  private val A = TextFunctions.MinHashCoeffs.map(_._1).toArray
  private val B = TextFunctions.MinHashCoeffs.map(_._2).toArray

  /** All k mins in one pass; shared by eval and generated code so the
    * two paths are bit-identical by construction. */
  def sig(hma: ArrayData): Array[Long] = {
    val n = hma.numElements()
    if (n == 0) return Array.emptyLongArray
    val k = A.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hma.getLong(i)
      var j = 0
      while (j < k) {
        val v = (A(j) * h + B(j)) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    out
  }
}

/** Native codegen'd MULTISET intersection size of two long-array
  * columns: Σ_h mult_a(h)·mult_b(h) — exactly the row count of the
  * oracle's `JOIN a ON hm JOIN b ON hm` verification (and of the old
  * exploded-relation `sum(m)` form) under ANY hash-collision pattern,
  * so swapping the exploded join for this row-local expression cannot
  * move a single gate value. With distinct inputs it equals plain set
  * intersection size.
  *
  * Builds a count map over the smaller side, probes with the larger —
  * O(|a|+|b|) per pair, evaluated only on LSH candidate pairs. */
case class MultisetIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_minter expects two array<long> inputs, got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_minter"

  override def nullSafeEval(a: Any, b: Any): Any =
    MultisetIntersect.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MultisetIntersect.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MultisetIntersect {
  /** Σ_h mult_a(h)·mult_b(h); shared by eval and generated code. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0L
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      val k = java.lang.Long.valueOf(small.getLong(i))
      val c = m.get(k)
      m.put(k, java.lang.Long.valueOf(if (c == null) 1L else c.longValue + 1L))
      i += 1
    }
    var tot = 0L
    var j = 0
    val nl = large.numElements()
    while (j < nl) {
      val c = m.get(java.lang.Long.valueOf(large.getLong(j)))
      if (c != null) tot += c.longValue
      j += 1
    }
    tot
  }
}
