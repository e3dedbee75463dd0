package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorDotSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = (0 until 50).map { i =>
    (i.toLong,
      Array.tabulate(7)(d => (math.sin(i * 7 + d) * 10).toFloat),
      Array.tabulate(7)(d => (math.cos(i * 3 + d) * 10).toFloat))
  }.toDF("id", "a", "b").persist()

  test("extensions are injected in the session") {
    val registry = spark.sessionState.functionRegistry
    Seq("graft_dot", "graft_dist2", "graft_tokens", "graft_band_keys").foreach { f =>
      assert(registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f)), f)
    }
  }

  test("bit-identical to the sequential HOF aggregate, float and double") {
    val hof = expr(
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val rows = vecs.select(
      call_function("graft_dot", col("a"), col("b")).as("native"), hof.as("hof"),
      call_function("graft_dot",
        transform(col("a"), x => x.cast("double")), col("b")).as("mixed"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r)
    }
  }

  test("min-length semantics and null propagation") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(2.0, 10.0))),
      (None, Some(Array(1.0)))).toDF("a", "b")
    val out = df.select(call_function("graft_dot", col("a"), col("b")))
      .collect()
    assert(out(0).getDouble(0) == 22.0) // 1*2 + 2*10, third elem ignored
    assert(out(1).isNullAt(0))
  }

  test("property: native dot is bit-identical to driver-side sequential sum") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val vecGen = for {
      n <- Gen.choose(1, 64)
      xs <- Gen.listOfN(n, Gen.choose(-1e6f, 1e6f))
      ys <- Gen.listOfN(n, Gen.choose(-1e6f, 1e6f))
    } yield (xs.toArray, ys.toArray)
    val prop = forAll(vecGen) { case (xs, ys) =>
      val expected = {
        var s = 0.0; var i = 0
        while (i < xs.length) { s += xs(i).toDouble * ys(i).toDouble; i += 1 }
        s
      }
      val actual = Seq((xs, ys)).toDF("a", "b")
        .select(call_function("graft_dot", col("a"), col("b")))
        .head.getDouble(0)
      java.lang.Double.doubleToLongBits(actual) ==
        java.lang.Double.doubleToLongBits(expected)
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, result.status.toString)
  }

  test("whole-stage codegen covers the dot projection") {
    val p = vecs.select(call_function("graft_dot", col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_dot"), p)
    // the projection runs inside a WholeStageCodegen span (starred)
    assert(p.split("\n").exists(l => l.contains("*") && l.contains("Project")), p)
  }
}
