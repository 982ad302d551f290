package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions.wordShingles
import org.apache.spark.sql.functions._

/** Non-degeneracy guard for q32's 32-slice md5 minhash family: every
  * slice of the concatenated digest must be a real 8-hex value with
  * per-corpus variation. The failure mode this pins actually happened in
  * round 12: slicing past the digest length yields "" for EVERY doc, so
  * the affected bands become one all-docs bucket and the banded candidate
  * join silently degrades to all-pairs — results stay correct (the exact
  * Jaccard verification rejects non-dups), but the scale shape is gone
  * and nothing else notices. */
class MinhashSignatureSpec extends SparkSpec {
  import spark.implicits._

  test("all 32 minhash slices are 8-hex and vary across docs") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "a completely different document about spark catalyst optimizer rules"),
      (2L, "yet another text with its own vocabulary of streaming watermarks here"),
      (3L, "fourth sample mentioning parquet footers predicate pushdown and scans"))
      .toDF("doc_id", "text")
    val sig = TextOps.minhashSignatures(docs.select(col("doc_id"),
      wordShingles(TextOps.toks, 3).as("sh")))
    val checks = (0 until 32).flatMap { i =>
      Seq(countDistinct(col(s"m$i")).as(s"d$i"),
        count_if(col(s"m$i").isNull).as(s"n$i"),
        min(col(s"m$i")).as(s"lo$i"),
        max(col(s"m$i")).as(s"hi$i"))
    }
    val r = sig.agg(checks.head, checks.tail: _*).head()
    (0 until 32).foreach { i =>
      assert(r.getAs[Long](s"d$i") > 1L, s"slice m$i is constant across docs")
      assert(r.getAs[Long](s"n$i") == 0L,
        s"slice m$i has NULLs — offset past the digest?")
      assert(r.getAs[Long](s"lo$i") >= 0L && r.getAs[Long](s"hi$i") <= 0xFFFFFFFFL,
        s"slice m$i outside the 32-bit range")
    }
  }

  // Round-13 contract (ADVICE item): only SLIM frames may be broadcast
  // in q32 — pair keys and band signatures, never a shingle ARRAY. A
  // broadcast of the array-carrying candidate frame collects
  // O(pairs × shingle arrays) on the driver — survivable when banding is
  // healthy, fatal in exactly the degradation scenario the test above
  // pins. The zip of the two array-carrying candidate frames must be a
  // distributed shuffle join. (AQE's runtime stage-dedup then builds the
  // identical pair-key broadcast once — checked here by canonical plan,
  // since reuse is invisible in the pre-execution plan.)
  test("q32 plan: no broadcast carries arrays; array zip is a shuffle join") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.SparkEntry.queries("q32_minhash_lsh")(spark, "/root/testdata/sf0.001")
    // AQE wraps the plan; the broadcast nodes live under the adaptive root
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bcasts = plan.collectWithSubqueries { case b: BroadcastExchangeExec => b }
    assert(bcasts.nonEmpty, "expected the slim pair-key/band broadcasts in the plan")
    bcasts.foreach { b =>
      val arrayCols = b.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrayCols.isEmpty,
        s"broadcast carries array columns ${arrayCols.map(_.name)} — " +
          s"this is the frame that explodes when banding degrades:\n$b")
    }
    // the two hinted pair-key broadcasts must be canonically identical so
    // AQE materializes one stage for both at runtime: either the plan
    // already shows a ReusedExchange over a broadcast, or at least two of
    // the collected builds canonicalize to the same plan. (The earlier
    // `|| bcasts.length == 2` escape made this vacuous in the expected
    // 2-build case — ADVICE r13.)
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val reused = plan.collectWithSubqueries {
      case r: ReusedExchangeExec if r.child.isInstanceOf[BroadcastExchangeExec] => r
    }
    val canon = bcasts.map(_.canonicalized)
    assert(reused.nonEmpty || canon.distinct.length < bcasts.length,
      s"pair-key broadcasts not canonically shared: ${bcasts.length} builds, " +
        s"${canon.distinct.length} distinct canonical forms, ${reused.length} reuses")
    assert(plan.toString.contains("ShuffledHashJoin"),
      s"the candidate-array zip must be a distributed shuffle join, not a broadcast:\n$plan")
    graft.ops.Checkpoints.releaseAll(spark)
  }
}
