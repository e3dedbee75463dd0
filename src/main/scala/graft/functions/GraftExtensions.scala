package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Session extensions registering the engine's native expressions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)` on the builder). Queries call
  * them via `call_function("graft_*", …)`; there is no second,
  * interpreted implementation. A session built without the extensions
  * gets the same functions from [[GraftExtensions.register]], which
  * `graft.core.Tables` and `graft.Ingest.run` call on the session they
  * are handed. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Description = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn(name: String, cls: Class[_], usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): Description =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => build.applyOrElse(children,
        (c: Seq[Expression]) => throw new IllegalArgumentException(
          s"$name expects $usage, got ${c.length} argument(s)")))

  /** A centroid-matrix literal (`array<array<double>>`) as rows. */
  private object Matrix {
    def unapply(e: Expression): Option[Array[Array[Double]]] = e match {
      case Literal(m: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) =>
        Some(Array.tabulate(m.numElements())(r => m.getArray(r).toDoubleArray()))
      case _ => None
    }
  }

  /** Every native function, written once: [[GraftExtensions.apply]]
    * injects this table and [[register]] registers it. */
  private[functions] val functions: Seq[Description] = Seq(
    fn("graft_dot", classOf[VectorDot], "2 arguments") {
      case Seq(a, b) => VectorDot(a, b)
    },
    fn("graft_dist2", classOf[VectorDist2], "2 arguments") {
      case Seq(a, b) => VectorDist2(a, b)
    },
    fn("graft_h60", classOf[Hash60], "1 argument") {
      case Seq(c) => Hash60(c)
    },
    fn("graft_gram_stats", classOf[GramRepetition],
        "(array<string>, n literal)") {
      case Seq(a, Literal(nn: Int, IntegerType)) => GramRepetition(a, nn)
    },
    fn("graft_simhash", classOf[SimHash60], "1 argument") {
      case Seq(c) => SimHash60(c)
    },
    fn("graft_bloom_contains", classOf[BloomContains], "2 arguments") {
      case Seq(k, f) => BloomContains(k, f)
    },
    fn("graft_nearest_centroid", classOf[NearestCentroid],
        "(array, centroid-matrix literal)") {
      case Seq(a, Matrix(mat)) => NearestCentroid(a, mat)
    },
    fn("graft_minhash_sig", classOf[MinHashSig], "1 argument") {
      case Seq(a) => MinHashSig(a)
    },
    fn("graft_minter", classOf[MultisetIntersect], "2 arguments") {
      case Seq(a, b) => MultisetIntersect(a, b)
    },
    fn("graft_nano_sum", classOf[NanoSum], "2 arguments") {
      case Seq(t, c) => NanoSum(t, c)
    },
    fn("graft_nano_sum_packed", classOf[NanoSumPacked], "2 arguments") {
      case Seq(t, p) => NanoSumPacked(t, p)
    },
    fn("graft_tokens", classOf[Tokens], "1 argument") {
      case Seq(c) => Tokens(c)
    },
    fn("graft_hashed_shingles", classOf[HashedShingles],
        "(array<string>, n literal, mod literal[, distinct literal])") {
      case Seq(a, Literal(nn: Int, IntegerType), Literal(md: Long, LongType)) =>
        HashedShingles(a, nn, md)
      case Seq(a, Literal(nn: Int, IntegerType), Literal(md: Long, LongType),
          Literal(d: Boolean, BooleanType)) =>
        HashedShingles(a, nn, md, d)
    },
    fn("graft_centroid_residual", classOf[CentroidResidual],
        "(array<float>, centroid-matrix literal, cell)") {
      case Seq(a, Matrix(mat), cell) => CentroidResidual(a, mat, cell)
    },
    fn("graft_band_keys", classOf[BandKeys],
        "(array, numBands literal, bandBits literal)") {
      case Seq(a, Literal(nb: Int, IntegerType), Literal(bb: Int, IntegerType)) =>
        BandKeys(a, nb, bb)
    },
  )

  /** Registers every native function `spark` does not already resolve
    * — a no-op on a session built with the extensions, and idempotent
    * on any other. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
