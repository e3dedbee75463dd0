package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Round-10 regression fix: the native shingle→md5→distinct pipeline
  * that replaced the interpreted HOF form (x06 0.61 s → 6.1 s at sf0.1,
  * BENCH_r09 — pushed filters + collapsed projections re-evaluated the
  * CodegenFallback lambdas 2-3x per row). Bit-identity with both
  * composed formulations is the whole contract. */
class HashedShinglesSpec extends SparkSpec {
  import spark.implicits._

  private val P = TextFunctions.MinHashP

  // deterministic pseudo-random corpora, incl. dup-heavy token bags
  private def corpus: Seq[(Long, Seq[String])] = (0 until 150).map { d =>
    val n = d % 17 // 0..16 tokens — covers the <3-token empty cases
    val toks = (0 until n).map(i =>
      s"w${math.abs((d * 131 + i * 31) % (3 + d % 9))}")
    (d.toLong, toks)
  }

  test("mod>0 mode equals transform(array_distinct(wordShingles), hash60 % P)") {
    val df = corpus.toDF("doc_id", "toks")
    val composed = transform(array_distinct(TextFunctions.wordShingles(col("toks"), 3)),
      s => coalesce(TextFunctions.hash60(s) % P, lit(0L)))
    val rows = df.select(
      call_function("graft_hashed_shingles", col("toks"), lit(3), lit(P)).as("n"),
      composed.as("c")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r))
  }

  test("mod=0 mode equals array_distinct(transform(wordShingles, hash60))") {
    val df = corpus.toDF("doc_id", "toks")
    val composed = array_distinct(transform(
      TextFunctions.wordShingles(col("toks"), 2), s => TextFunctions.hash60(s)))
    val rows = df.select(
      call_function("graft_hashed_shingles", col("toks"), lit(2), lit(0L)).as("n"),
      composed.as("c")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r))
  }

  test("distinct=false mode equals transform(wordShingles, hash60 % mod), multiplicity kept") {
    val df = corpus.toDF("doc_id", "toks")
    val composed = transform(TextFunctions.wordShingles(col("toks"), 2),
      s => TextFunctions.hash60(s) % 4096L)
    val rows = df.select(
      call_function("graft_hashed_shingles", col("toks"), lit(2), lit(4096L),
        lit(false)).as("n"),
      composed.as("c")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r))
    // duplicates are preserved: "a a a" has two identical bigrams
    val dup = spark.range(1).select(
      call_function("graft_hashed_shingles",
        typedLit(Seq("a", "a", "a")), lit(2), lit(0L), lit(false)))
      .collect()(0).getSeq[Long](0)
    assert(dup.length == 2 && dup(0) == dup(1))
  }

  test("interpreted eval matches the planned (codegen) path; <n tokens -> empty") {
    def litToks(v: String*) = Literal.create(v.toArray,
      ArrayType(StringType, containsNull = true))
    val e = HashedShingles(litToks("a", "b", "a", "b", "a"), 3, P)
    val interpreted = e.eval(null).asInstanceOf[ArrayData].toLongArray.toSeq
    val planned = spark.range(1)
      .select(call_function("graft_hashed_shingles",
        typedLit(Seq("a", "b", "a", "b", "a")), lit(3), lit(P)))
      .collect()(0).getSeq[Long](0)
    assert(interpreted == planned)
    // "a b a", "b a b" — 2 distinct shingles from 3 occurrences
    assert(interpreted.length == 2)
    assert(HashedShingles(litToks("a", "b"), 3, P).eval(null)
      .asInstanceOf[ArrayData].numElements() == 0)
    assert(HashedShingles(litToks(), 1, 0L).eval(null)
      .asInstanceOf[ArrayData].numElements() == 0)
    // the TextFunctions wrapper resolves the native function in this session
    assert(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_hashed_shingles")))
  }

  test("distinct-before-hash vs distinct-after-hash orders both match array_distinct") {
    // first-occurrence order: "x y x", "y x y" repeat — composed
    // array_distinct keeps first occurrences; pin the native order too
    val toks = typedLit(Seq("x", "y", "x", "y", "x", "z"))
    val native = spark.range(1).select(
      call_function("graft_hashed_shingles", toks, lit(3), lit(P))).collect()(0).getSeq[Long](0)
    val composed = spark.range(1).select(
      transform(array_distinct(TextFunctions.wordShingles(toks, 3)),
        s => TextFunctions.hash60(s) % P)).collect()(0).getSeq[Long](0)
    assert(native == composed) // ORDER-sensitive Seq equality
  }
}
