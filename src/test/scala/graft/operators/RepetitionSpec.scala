package graft.operators

import graft.SparkSpec
import graft.core.Tables
import graft.functions.TextFunctions.{hash60, tokens, wordShingles}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  /** The exploded + grouped wordcount form of x16 — the reference the
    * native row-local GramRepetition form must reproduce bit-for-bit. */
  private def repetitionShuffled(docs: DataFrame): DataFrame = {
    val td = docs.withColumn("toks", tokens(col("text")))
    val grams = td
      .select(col("doc_id"), explode(concat(
        transform(wordShingles(col("toks"), 2),
          g => struct(lit(2).as("n"), g.as("g"))),
        transform(wordShingles(col("toks"), 3),
          g => struct(lit(3).as("n"), g.as("g"))))).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), hash60(col("x.g")).as("g"))
    val perN = grams
      .groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n").agg(
        (max("c").cast("double") / sum("c").cast("double")).as("top_frac"),
        (sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).cast("double")
          / sum("c").cast("double")).as("dup_frac"))
    td.select("doc_id")
      .join(perN, Seq("doc_id"), "left")
      .groupBy("doc_id").agg(
        round(max(when(col("n") === 2, col("top_frac"))), 6).as("top2gram_frac"),
        round(max(when(col("n") === 2, col("dup_frac"))), 6).as("dup2gram_frac"),
        round(max(when(col("n") === 3, col("top_frac"))), 6).as("top3gram_frac"),
        round(max(when(col("n") === 3, col("dup_frac"))), 6).as("dup3gram_frac"))
      .orderBy("doc_id")
  }

  test("repetition signals match hand-computed n-gram fractions") {
    val dir = Files.createTempDirectory("rep").toString
    Seq(
      (1L, "a a a b", "en", "s0", 7L),  // 2-grams: aa,aa,ab; 3-grams: aaa,aab
      (2L, "x y", "en", "s0", 3L),      // one 2-gram, no 3-grams
      (3L, "z", "en", "s0", 1L))        // no grams at all
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.repetition(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> r).toMap
    def d(id: Long, c: String): Option[Double] = {
      val r = rows(id); val i = r.fieldIndex(c)
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    }
    assert(d(1L, "top2gram_frac").contains(0.666667)) // "a a" is 2 of 3
    assert(d(1L, "dup2gram_frac").contains(0.666667))
    assert(d(1L, "top3gram_frac").contains(0.5))
    assert(d(1L, "dup3gram_frac").contains(0.0))
    assert(d(2L, "top2gram_frac").contains(1.0))
    assert(d(2L, "dup2gram_frac").contains(0.0))
    assert(d(2L, "top3gram_frac").isEmpty) // too short for any 3-gram
    assert(d(3L, "top2gram_frac").isEmpty && d(3L, "dup3gram_frac").isEmpty)
  }

  test("a fully repeated document saturates the duplicate fraction") {
    val dir = Files.createTempDirectory("rep2").toString
    val looped = Seq.fill(50)("spam ham").mkString(" ")
    Seq((1L, looped, "en", "s0", looped.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextQueries.repetition(Tables(spark, dir)).collect()(0)
    assert(r.getDouble(r.fieldIndex("dup2gram_frac")) == 1.0)
    assert(r.getDouble(r.fieldIndex("dup3gram_frac")) == 1.0)
    // 100 tokens alternate: "spam ham" claims 50 of the 99 2-gram slots
    assert(r.getDouble(r.fieldIndex("top2gram_frac")) == 0.505051)
  }

  test("native row-local form is bit-identical to the shuffled groupBy form") {
    // the round-6 GramRepetition expression must reproduce the
    // exploded+grouped formulation EXACTLY (same Hash60 gram fold, same
    // long→double casts) — the x16 oracle still gates the grouped
    // semantics, so any drift here is a correctness bug, not noise
    val rnd = new scala.util.Random(42)
    val words = Vector("a", "b", "c", "dd", "e", "f", "g")
    val docs = (0L until 300L).map { i =>
      val len = rnd.nextInt(30) // includes 0- and 1-token docs
      (i, Seq.fill(len)(words(rnd.nextInt(words.length))).mkString(" "),
        "en", "s0", 1L)
    }
    val dir = Files.createTempDirectory("rep3").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val native = TextQueries.repetition(t).collect()
    val shuffled = repetitionShuffled(t.documents).collect()
    assert(native.length == shuffled.length)
    native.zip(shuffled).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("x16 plans with NO exchange except the final total-order sort") {
    val dir = Files.createTempDirectory("rep4").toString
    Seq((1L, "a b c a b", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = TextQueries.repetition(Tables(spark, dir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"row-local gram stats regressed to a shuffle\n${p.take(2000)}")
    assert(!p.contains("Generate explode"), p.take(2000))
  }
}
