package graft.operators

import graft.SparkSpec
import graft.core.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Specs for the round-4 operators: as-of join (q36), KMV distinct
  * sketch (x20), connected-components dedup clusters (x21). The
  * rollup/pivot gates (q34/q35) are pure built-in compositions covered
  * by their DuckDB oracles. */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  /** Events parquet dir with ts as raw epoch-nanos longs (the
    * TIMESTAMP(NANOS) physical shape Tables.events expects). */
  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = Files.createTempDirectory("ev").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val us = 1000L // ns per µs

  test("asof: each click takes the latest error at or before it") {
    val dir = eventsDir(Seq(
      (0L, 1000L * us, 1L, "error", 1.0),
      (1L, 2000L * us, 1L, "click", 0.0),  // after err@1000 → 1.0
      (2L, 3000L * us, 1L, "error", 2.0),
      (3L, 3500L * us, 1L, "click", 0.0))) // after err@3000 → 2.0
    val out = StarQueries.q36(Tables(spark, dir)).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(out.map(r => (r.getLong(3), r.getDouble(4))).toSeq ==
      Seq((1000L, 1.0), (3000L, 2.0)))
  }

  test("asof: an error at the click's exact ns counts as before (>=)") {
    val dir = eventsDir(Seq(
      (0L, 5000L * us, 7L, "error", 9.5),
      (1L, 5000L * us, 7L, "click", 0.0)))
    val r = StarQueries.q36(Tables(spark, dir)).collect().head
    assert(r.getLong(3) == 5000L && r.getDouble(4) == 9.5)
  }

  test("asof: no prior error for the user yields nulls, not a dropped row") {
    val dir = eventsDir(Seq(
      (0L, 1000L * us, 1L, "click", 0.0),       // click before any error
      (1L, 2000L * us, 1L, "error", 3.0),
      (2L, 1500L * us, 2L, "error", 8.0),       // other user's error
      (3L, 1600L * us, 3L, "click", 0.0)))      // user 3 never errors
    val out = StarQueries.q36(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(out == Map(0L -> true, 3L -> true))
  }

  test("asof: simultaneous errors dedup to the max event_id deterministically") {
    val dir = eventsDir(Seq(
      (0L, 1000L * us, 1L, "error", 1.0),
      (1L, 1000L * us, 1L, "error", 2.0), // same ns — higher id wins
      (2L, 2000L * us, 1L, "click", 0.0)))
    val r = StarQueries.q36(Tables(spark, dir)).collect().head
    assert(r.getDouble(4) == 2.0)
  }

  test("kmv: two-stage salted k-min equals the naive global k-min estimate") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    import graft.functions.TextFunctions.hash60
    val k = 32
    val out = TextQueries.kmvDistinct(t, k).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // naive reference: global rank, no salt stage
    val naive = t.events.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), hash60(col("user_id").cast("string")).as("h"))
      .collect().groupBy(_.getString(0)).map { case (et, rows) =>
        val hs = rows.map(_.getLong(1)).sorted
        val est =
          if (hs.length < k) hs.length.toDouble
          else {
            val u = hs(k - 1).toDouble / 1152921504606846976.0
            BigDecimal((k - 1).toDouble / u)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }
        et -> est
      }
    assert(out == naive)
  }

  test("kmv: estimate lands within the sketch's error regime of the truth") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val exact = t.events.select("event_type", "user_id").distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = TextQueries.kmvDistinct(t).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    est.foreach { case (et, e) =>
      val n = exact(et).toDouble
      // KMV k=32 stderr ≈ 1/sqrt(k-2) ≈ 18%; allow 3σ
      assert(math.abs(e - n) / n < 0.55, s"$et: est $e vs exact $n")
    }
  }

  test("kmv: a group with fewer than k keys reports its exact count") {
    val dir = eventsDir(Seq(
      (0L, 1000L * us, 1L, "rare", 0.0),
      (1L, 2000L * us, 2L, "rare", 0.0),
      (2L, 3000L * us, 1L, "rare", 0.0))) // 2 distinct users < k
    val r = TextQueries.kmvDistinct(Tables(spark, dir)).collect().head
    assert(r.getString(0) == "rare" && r.getDouble(1) == 2.0)
  }

  test("cc: chain and clique components resolve to their min ids (both routes)") {
    // component {1,2,3,4} as a pure chain (diameter 3), {10,11,12} as a
    // clique, {20} absent (isolated nodes don't appear in pair output)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("s", "d")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    // driverLimit = 0 forces the distributed loop; default takes the
    // driver union-find — the two routes must agree exactly
    for (lim <- Seq(1000000L, 0L)) {
      val lbl = TextQueries.connectedComponents(edges, driverLimit = lim)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbl == expect, s"driverLimit=$lim")
    }
  }

  test("cc: a 32-node path converges within the pointer-jump round budget") {
    // worst-case shape for plain neighbor-min (needs diameter rounds);
    // path doubling must finish it in O(log n) — well under 25
    val edges = (0L until 31L).map(i => (i, i + 1)).toDF("s", "d")
    val lbl = TextQueries
      .connectedComponents(edges, maxRounds = 8, driverLimit = 0).collect()
    assert(lbl.length == 32 && lbl.forall(_.getLong(1) == 0L))
  }

  test("cc: hitting the round cap before the fixpoint throws, naming cap and edges") {
    val edges = (0L until 31L).map(i => (i, i + 1)).toDF("s", "d")
    val e = intercept[IllegalStateException] {
      TextQueries.connectedComponents(edges, maxRounds = 2, driverLimit = 0)
    }
    assert(e.getMessage.contains("maxRounds=2") && e.getMessage.contains("31 edges"),
      e.getMessage)
  }

  test("cc: empty edge set yields an empty labeling without looping") {
    for (lim <- Seq(1000000L, 0L)) {
      val empty = Seq.empty[(Long, Long)].toDF("s", "d")
      assert(TextQueries.connectedComponents(empty, driverLimit = lim).count() == 0)
    }
  }

  test("dupClusters: representatives are the component minima and cover all members") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val out = TextQueries.dupClusters(t).collect()
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(0)).min == cid, s"cluster $cid min mismatch")
      assert(rows.count(_.getBoolean(2)) == 1, s"cluster $cid rep count")
      assert(rows.find(_.getBoolean(2)).get.getLong(0) == cid)
    }
    // second run is identical (deterministic iterative fixpoint)
    val again = TextQueries.dupClusters(t).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
