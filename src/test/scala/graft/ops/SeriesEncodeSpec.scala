package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Planted-fixture tests for the round-5 series/encoding batch: known
  * answers on handcrafted inputs, covering the edge cases the sf oracles
  * exercise only by accident (bucket boundaries, level shifts, step-hold
  * weighting, tie-breaks).
  */
class SeriesEncodeSpec extends SparkSpec {

  private val nsPerSec = 1000000000L
  private val t0 = 1704067200L * nsPerSec // 2024-01-01 00:00:00 UTC

  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double, String)]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_series").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  private def ordersDir(rows: Seq[(Long, Long, Double, String)], day: Long => String = _ => "2024-01-01"): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_orders").toString
    rows.map { case (ok, ck, p, pr) =>
      (ok, ck, "O", p, java.sql.Timestamp.valueOf(s"${day(ok)} 00:00:00"), pr)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$d/orders.parquet")
    d
  }

  test("q168 time-weighted average: step-hold weighting, not plain avg") {
    // user 1: value 10 held 9s, then value 0 held 1s, then final event
    // (value never held — lead is null). TWA over the 10s span = (10·9 +
    // 0·1)/10 = 9.0; the plain avg of (10, 0, 7) would be 5.67.
    val rows = Seq(
      (1L, t0, 1L, "m", 10.0, "{}"),
      (2L, t0 + 9 * nsPerSec, 1L, "m", 0.0, "{}"),
      (3L, t0 + 10 * nsPerSec, 1L, "m", 7.0, "{}"),
      // user 2: single event — no span, must be filtered
      (4L, t0, 2L, "m", 99.0, "{}"))
    val got = SeriesOps.q168TimeWeightedAvg(spark, eventsDir(rows)).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("twa")).toMap
    assert(got === Map(1L -> 9.0))
  }

  test("q166 stickiness: trailing windows count distinct users, ratios exact") {
    val day = 86400L * nsPerSec
    // day0: users 1,2; day1: user 1; day8 (outside day1's 7-window): user 3
    val rows = Seq(
      (1L, t0, 1L, "v", 1.0, "{}"), (2L, t0, 2L, "v", 1.0, "{}"),
      (3L, t0 + day, 1L, "v", 1.0, "{}"),
      (4L, t0 + 8 * day, 3L, "v", 1.0, "{}"))
    val got = SeriesOps.q166Stickiness(spark, eventsDir(rows)).collect()
      .map(r => r.getAs[String]("day") ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau")))).toMap
    // day1 WAU covers day0+day1 → {1,2}; day8 WAU covers day2..8 → {3}
    // (day1 dropped out), but MAU still sees all three users
    assert(got === Map(
      "2024-01-01" -> ((2L, 2L, 2L)),
      "2024-01-02" -> ((1L, 2L, 2L)),
      "2024-01-09" -> ((1L, 1L, 3L))))
  }

  test("q167 CUSUM: level shift puts the extreme |cusum| at the shift boundary") {
    // 6 days at 100, then 6 days at 200: mean 150, deviations -50×6 then
    // +50×6 — cusum walks to -300 exactly at the end of the low regime and
    // returns to 0 by the last day.
    val d = ordersDir(
      (1L to 12L).map(k => (k, k, if (k <= 6) 100.0 else 200.0, "1-URGENT")),
      day = k => f"2024-01-${k}%02d")
    val got = SeriesOps.q167Cusum(spark, d).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Double]("cusum")).toMap
    assert(got("2024-01-06") === -300.0) // the changepoint
    assert(got("2024-01-12") === 0.0)    // CUSUM closes at zero by identity
    assert(got.values.min === -300.0)
  }

  test("q169 global index: bucketed two-pass equals the global row_number, key gaps included") {
    import spark.implicits._
    // adversarial keys: huge gaps, a dense run crossing bucket boundaries,
    // and max dominating the width computation
    val keys = Seq(1L, 2L, 3L, 1000000L, 1000001L, 5000000L, 99999999L)
    val d = Files.createTempDirectory("graft_gidx").toString
    keys.map(k => (k, 1L, "O", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .repartition(4) // multi-partition input: the index must not depend on layout
      .write.parquet(s"$d/orders.parquet")
    val got = EncodeOps.q169GlobalIndex(spark, d).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("idx")).toMap
    assert(got === keys.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap)
  }

  test("q175 moments: symmetric data has zero skew; two-point data hits the Bernoulli kurtosis") {
    // priority A: symmetric {100, 200, 300} → skewness 0, excess kurtosis
    // of a uniform 3-pointer = -1.5; priority B: balanced two-pointer
    // {100×2, 300×2} → skew 0, excess kurtosis -2 (Bernoulli p=1/2 limit)
    val d = ordersDir(Seq(
      (1L, 1L, 100.0, "A"), (2L, 1L, 200.0, "A"), (3L, 1L, 300.0, "A"),
      (4L, 1L, 100.0, "B"), (5L, 1L, 100.0, "B"),
      (6L, 1L, 300.0, "B"), (7L, 1L, 300.0, "B")))
    val rows = SeriesOps.q175Moments(spark, d).collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        ((r.getAs[Double]("mean"), r.getAs[Double]("skewness"),
          r.getAs[Double]("kurtosis_excess")))).toMap
    val (meanA, skewA, kurtA) = rows("A")
    // |skew| compare, not ==: an exactly-symmetric m3 lands on ±0.0 and
    // boxed -0.0 != 0.0
    assert(meanA === 200.0 && math.abs(skewA) === 0.0 && kurtA === -1.5)
    val (meanB, skewB, kurtB) = rows("B")
    assert(meanB === 200.0 && math.abs(skewB) === 0.0 && kurtB === -2.0)
  }

  test("q172 semantic dedup: the planted jitter twin is removed, distinct vectors survive") {
    import spark.implicits._
    // 8 orthogonal-ish seeds (unit axes 0..7); vec 20 sits on axis 2, and
    // vec 21 is its near-copy (same direction, scaled — cosine 1.0);
    // vec 22 is on axis 5, alone in its cluster.
    def axis(i: Int, scale: Float): Seq[Float] =
      Seq.tabulate(64)(d => if (d == i) scale else 0.0f)
    val rows =
      (0 until 8).map(i => (i.toLong, axis(i, 1.0f), i)) ++ Seq(
        (20L, axis(2, 2.0f), 2), (21L, axis(2, 3.0f), 2), (22L, axis(5, 2.0f), 5))
    val d = Files.createTempDirectory("graft_semdd").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val got = VectorOps.q172SemanticDedup(spark, d).collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("n_removed")))).toMap
    // cluster 2 holds seed 2 + vecs 20, 21 — all colinear, so 20 and 21
    // both dedup against seed 2 (lowest id survives); cluster 5 holds
    // seed 5 + vec 22, same story with one copy
    assert(got(2L) === ((3L, 2L)))
    assert(got(5L) === ((2L, 1L)))
    assert((0L to 7L).filterNot(c => c == 2L || c == 5L)
      .forall(c => got(c) === ((1L, 0L))))
  }

  test("q172 banding is the planner's pick: cheapest config with full recall at the dup regime") {
    // q273's s-curve arithmetic, specialized to cosine LSH: per-band
    // collision p(s) = (1 − θ/π)^r, any-band collision 1 − (1−p^r)^b.
    // The dup regime: true semantic dups sit at s ≥ 0.9 (the synthetic
    // jitter twins of the SURVEY §8.7 decade runs measure ≈ 0.99996); a
    // random pair costs b·2⁻ʳ
    // expected band collisions. The shipped (b, r) must be the CHEAPEST
    // of the planner's config grid whose collision at s = 0.9 is ≥ 99.5%.
    val configs = Seq((64, 4), (32, 8), (16, 8), (8, 16))
    def p(s: Double) = 1.0 - math.acos(s) / math.Pi
    def collide(b: Int, r: Int, s: Double) =
      1.0 - math.pow(1.0 - math.pow(p(s), r), b)
    def randCost(b: Int, r: Int) = b * math.pow(0.5, r)
    val eligible = configs.filter { case (b, r) => collide(b, r, 0.9) >= 0.995 }
    val cheapest = eligible.minBy { case (b, r) => randCost(b, r) }
    assert(cheapest === ((VectorOps.sdBands, VectorOps.sdPlanesPerBand)))
    // at the measured jitter-twin sims the pick is effectively exact
    assert(collide(VectorOps.sdBands, VectorOps.sdPlanesPerBand, 0.99) >= 1 - 1e-8)
    // and 64× cheaper on random pairs than the demoted 64×4 stress setting
    assert(randCost(64, 4) / randCost(VectorOps.sdBands, VectorOps.sdPlanesPerBand) === 64.0)
  }

  test("q174 triangles: a planted 4-clique yields exactly 4 triangles") {
    import spark.implicits._
    // tokens a,b,c,d pairwise co-occur in 40 docs (the edge threshold);
    // token e attaches only to a — no triangle through e. K4 has C(4,3)=4.
    val docs =
      (1 to 40).map(i => (i.toLong, "a b c d", "en", "s", 7L)) ++
        (41 to 80).map(i => (i.toLong, "a e", "en", "s", 3L))
    val d = Files.createTempDirectory("graft_tri").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val r = EncodeOps.q174Triangles(spark, d).collect().head
    assert(r.getAs[Long]("n_nodes") === 5L)     // a,b,c,d + e
    assert(r.getAs[Long]("n_edges") === 7L)     // K4's 6 + (a,e)
    assert(r.getAs[Long]("n_triangles") === 4L) // C(4,3)
  }

  test("q173 bigram LM: repeated bigrams score higher than novel ones") {
    import spark.implicits._
    // doc 1 repeats one bigram; doc 2 is four distinct novel bigrams over
    // the same vocabulary — the model must prefer doc 1
    val docs = Seq(
      (1L, "x y x y x y x y", "en", "s", 15L),
      (2L, "x q y p x z y w", "en", "s", 15L))
    val d = Files.createTempDirectory("graft_blm").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val got = EncodeOps.q173BigramLm(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(got(1L) > got(2L))
    assert(got.size === 2)
  }
}
