package graft.streaming

import graft.functions.TextFunctions
import graft.operators.TextQueries.{DedupIndex, SimBands, simBandKey}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The join reference for [[DocStream.probed]]: the stream's corpus
  * lookup in its join formulation — a left join on the index's `fp`
  * table, and per band a left join on a (key → collected candidate
  * list) lookup whose Hamming-matching min `doc_id` is taken
  * row-locally, then the least over the bands. Returns `(doc_id,
  * corpus_id, near_id)` per input row. */
object ProbeJoinReference {

  def enrich(docs: DataFrame, index: DedupIndex, maxHamming: Int): DataFrame = {
    val lookups = (0 until SimBands).map { b =>
      index.bands.filter(col("b") === b)
        .groupBy(col("key").as(s"key$b"))
        .agg(collect_list(struct(col("sim"), col("doc_id"))).as(s"cands$b"))
    }
    def bandMin(cands: Column, sim: Column): Column =
      array_min(transform(
        filter(cands, x => bit_count(x("sim").bitwiseXOR(sim)) <= maxHamming),
        x => x("doc_id")))
    var enriched = docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("sim",
        coalesce(TextFunctions.simhash60("text"), lit((1L << 60) - 1)))
      .join(index.fp, Seq("fp"), "left")
    for (b <- 0 until SimBands)
      enriched = enriched
        .withColumn(s"key$b", simBandKey(col("sim"), b))
        .join(lookups(b), Seq(s"key$b"), "left")
    enriched.select(col("doc_id"), col("corpus_id"),
      least((0 until SimBands).map(b =>
        bandMin(col(s"cands$b"), col("sim"))): _*).as("near_id"))
  }
}
