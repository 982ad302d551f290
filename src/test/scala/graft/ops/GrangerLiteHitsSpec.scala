package graft.ops

import graft.SparkSpec
import java.sql.Date

/** Planted-fixture tests for the round-8v batch (q349-q350). */
class GrangerLiteHitsSpec extends SparkSpec {

  test("q349 Granger: matches an independent scalar reimplementation") {
    import spark.implicits._
    val xs = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3)
    val ys = Seq(2, 7, 1, 8, 2, 8, 1, 8, 2, 8)
    // day i: xs(i) orders; one carries the full daily revenue ys(i)*1e5
    val rows = xs.indices.flatMap { i =>
      val d = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
      (1 to xs(i)).map(j => (d, if (j == 1) ys(i) * 1e5 else 0.0))
    }
    val got = GraphMiningOps.grangerLite(rows.toDF("o_orderdate", "o_totalprice"))
      .collect()(0)
    // independent scalar computation over (y_t, y_{t-1}, x_{t-1})
    val tr = (1 until xs.length).map(t => (ys(t).toLong, ys(t - 1).toLong, xs(t - 1).toLong))
    val n = tr.length.toLong
    def s(f: ((Long, Long, Long)) => Long) = tr.map(f).sum
    val (sy, sl, sx) = (s(_._1), s(_._2), s(_._3))
    val cyy = n * s(r => r._1 * r._1) - sy * sy
    val cll = n * s(r => r._2 * r._2) - sl * sl
    val cxx = n * s(r => r._3 * r._3) - sx * sx
    val cyl = n * s(r => r._1 * r._2) - sy * sl
    val cyx = n * s(r => r._1 * r._3) - sy * sx
    val clx = n * s(r => r._2 * r._3) - sl * sx
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5), got.getLong(6))
      === ((n, cyy, cll, cxx, cyl, cyx, clx)))
    val det = cll.toDouble * cxx - clx.toDouble * clx
    val b = (cyl.toDouble * cxx - cyx.toDouble * clx) / det
    val c = (cyx.toDouble * cll - cyl.toDouble * clx) / det
    val rssF = cyy.toDouble - b * cyl - c * cyx
    val rssR = cyy.toDouble - (cyl.toDouble / cll) * cyl
    val f = (n - 3) * (rssR - rssF) / rssF
    assert(math.abs(got.getDouble(7) - math.floor(b * 1e6 + 0.5) / 1e6) < 1e-9)
    assert(math.abs(got.getDouble(8) - math.floor(c * 1e6 + 0.5) / 1e6) < 1e-9)
    assert(math.abs(got.getDouble(9) - math.floor(f * 1e4 + 0.5) / 1e4) < 1e-9)
  }

  test("q350 HITS: matches an independent integer power-iteration trace") {
    import spark.implicits._
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 10L), (3L, 12L))
    val got = GraphMiningOps.hits(edges.toDF("s", "p"), iters = 8, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent trace of the exact integer recurrence
    val parts = edges.map(_._2).distinct.sorted
    var a = parts.map(_ -> 1000000L / parts.size).toMap
    for (_ <- 1 to 8) {
      val hRaw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => a(e._2)).sum }
      val ht = hRaw.values.sum
      val h = hRaw.map { case (s, v) => s -> (1000000L * v) / ht }
      val aRaw = edges.groupBy(_._2).map { case (p, es) => p -> es.map(e => h(e._1)).sum }
      val at = aRaw.values.sum
      a = aRaw.map { case (p, v) => p -> (1000000L * v) / at }
    }
    val expect = a.toSeq.sortBy { case (p, v) => (-v, p) }
    assert(got.toSeq === expect)
    // p10 has in-degree 3 incl. the strongest hub -> must rank first
    assert(got.head._1 === 10L)
  }
}
