package graft.functions

import graft.SparkSpec
import graft.functions.TextFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq("x").toDF("dummy").select(c.as("r")).collect()(0).getAs[T]("r")

  /** The composed HOF form of [[hashedShingles]] — the reference the
    * native expression is pinned against on every input class.
    * Contract: NULL tokens → NULL; fewer than n tokens → empty array. */
  private def hashedShinglesFallback(toks: Column, n: Int, mod: Long,
                                     distinct: Boolean): Column = {
    val res =
      if (!distinct)
        transform(wordShingles(toks, n),
          s => if (mod > 0L) hash60(s) % mod else hash60(s))
      else if (mod > 0L)
        transform(array_distinct(wordShingles(toks, n)),
          s => coalesce(hash60(s) % mod, lit(0L)))
      else array_distinct(transform(wordShingles(toks, n), s => hash60(s)))
    // the native expression is null-intolerant (NULL in → NULL out);
    // wordShingles' when() would fall through to its empty-array
    // otherwise on a NULL input
    when(toks.isNull, lit(null).cast("array<bigint>")).otherwise(res)
  }

  test("tokens splits on single space and drops empties") {
    val r = Seq("a  b c ").toDF("t")
      .select(tokens(col("t")).as("r")).collect()(0).getSeq[String](0)
    assert(r == Seq("a", "b", "c"))
  }

  test("wordShingles yields n-k+1 shingles, empty below n") {
    val df = Seq("a b c d e", "a b").toDF("t")
      .select(wordShingles(tokens(col("t")), 3).as("s"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d", "c d e"))
    assert(rows(1).isEmpty)
  }

  test("hash60 is deterministic, positive, and < 2^60") {
    val h1 = one[Long](hash60(lit("hello")))
    val h2 = one[Long](hash60(lit("hello")))
    assert(h1 == h2 && h1 >= 0 && h1 < (1L << 60))
  }

  test("minHashJ stays within [0, P)") {
    val hm = one[Long](hashP(lit("token")))
    MinHashCoeffs.indices.foreach { j =>
      val v = one[Long](minHashJ(lit(hm), j))
      assert(v >= 0 && v < MinHashP, s"bit $j out of range: $v")
    }
  }

  test("fingerprint folds case and whitespace") {
    val df = Seq(("A  quick   Fox", "a quick fox")).toDF("a", "b")
      .select(fingerprint(col("a")).as("fa"), fingerprint(col("b")).as("fb"))
    val r = df.collect()(0)
    assert(r.getString(0) == r.getString(1))
  }

  test("native simhash is bit-identical to the composed HOF fold") {
    // the SQL-composable majority-vote fold (the reference semantics,
    // spelled out) vs the native expression,
    // over empty / single / repeated / unicode / many-token inputs
    val hof = expr(
      """aggregate(
        |  transform(filter(split(t, ' '), x -> x != ''),
        |            x -> CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)),
        |  array_repeat(CAST(0 AS BIGINT), 60),
        |  (acc, h) -> zip_with(acc, sequence(0, 59),
        |      (x, b) -> x + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END),
        |  acc -> aggregate(zip_with(acc, sequence(0, 59),
        |      (s, b) -> CASE WHEN s >= 0 THEN shiftleft(CAST(1 AS BIGINT), b)
        |                ELSE CAST(0 AS BIGINT) END),
        |    CAST(0 AS BIGINT), (x, y) -> x + y))""".stripMargin)
    val texts = Seq("", "one", "a a a b", "Ünïcode tökens hère",
      "  padded   spaces  ", (1 to 500).map(i => s"w${i % 37}").mkString(" "))
    val rows = texts.toDF("t")
      .select(simhash60("t").as("native"), hof.as("ref")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1), s"mismatch for '${t.take(30)}'")
    }
  }

  test("simhash60 equal for equal text, all-ones for empty") {
    val r = Seq("w1 w2 w3", "w1 w2 w3", "").toDF("t")
      .select(simhash60("t").as("s")).collect().map(_.getLong(0))
    assert(r(0) == r(1))
    assert(r(2) == (1L << 60) - 1) // empty doc: every vote ties at 0 => bit set
  }

  test("hashedShingles: native and HOF fallback agree on every input class") {
    // native and composed forms must not diverge even on inputs
    // current call sites never produce — NULL token arrays and
    // sub-n docs. Pin: NULL -> NULL, < n tokens -> empty array, and
    // value identity elsewhere, across all (mod, distinct) branches.
    val docs = Seq(
      Some(Seq("a", "b", "c", "d", "e")), // normal
      Some(Seq("a", "b", "a", "b", "a")), // dup shingles
      Some(Seq("a", "b")),                // fewer than n tokens
      Some(Seq.empty[String]),            // empty
      None,                               // NULL array
    ).toDF("toks")
    for ((mod, dist) <- Seq((1000L, true), (0L, true), (1000L, false), (0L, false))) {
      val rows = docs.select(
        hashedShingles(col("toks"), 3, mod, dist).as("nat"),
        hashedShinglesFallback(col("toks"), 3, mod, dist).as("fb")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        val nat = if (r.isNullAt(0)) null else r.getSeq[Long](0)
        val fb = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        assert(nat == fb, s"row $i diverges (mod=$mod distinct=$dist): native=$nat fallback=$fb")
      }
      // row 2/3: sub-n and empty docs are EMPTY arrays (not null) on both
      assert(!rows(2).isNullAt(0) && rows(2).getSeq[Long](0).isEmpty)
      assert(!rows(3).isNullAt(0) && rows(3).getSeq[Long](0).isEmpty)
      // row 4: NULL array propagates NULL on both
      assert(rows(4).isNullAt(0) && rows(4).isNullAt(1))
    }
  }

  test("simhash of similar texts is closer than dissimilar (Hamming)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "completely unrelated words appear here instead tonight")
    val s = texts.toDF("t").select(simhash60("t").as("s"))
      .collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(0), s(1)) < ham(s(0), s(2)))
  }
}
