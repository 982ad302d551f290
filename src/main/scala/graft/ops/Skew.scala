package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY §2.2 / builder-prompt scale
  * requirement): salt the skewed (big) side with a per-row salt, replicate
  * the other side once per salt value, join on (key, salt).
  *
  * AQE's skew-join handling covers sort-merge joins automatically; explicit
  * salting remains necessary for aggregations over hot keys and for
  * engines/paths AQE doesn't rewrite. Result set is identical to the plain
  * equi-join (SkewSpec asserts it).
  */
object Skew {

  /** Inner equi-join with the left (big/skewed) side salted `salts` ways.
    * The salt hashes ALL of the row's columns — stable under task retry
    * (monotonically_increasing_id would reassign on recomputation and,
    * used as a shuffle key, could double-count/drop rows after a fetch
    * failure). Identical duplicate rows share a salt — they stay together,
    * which is correct; a hot KEY still spreads because its rows differ in
    * the other columns.
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame,
                     bigKey: String, smallKey: String, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(salts.toLong)).cast("int"))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicatedSmall,
        saltedBig(bigKey) === replicatedSmall(smallKey) &&
          saltedBig("__salt") === replicatedSmall("__salt"))
      .drop("__salt")
  }

  // --------------------------------------------------------------------------
  // q123 — the salted equi-join as a CATALOG operator, not just a
  // spec-tested utility: orders ⋈ customer through saltedEquiJoin (the
  // big fact side salted 8 ways, the customer side replicated per salt),
  // then revenue per nation key. The oracle is the PLAIN join SQL — the
  // whole point of salting is result-set identity, and the hash check
  // proves it on the driver gate, not just in SkewSpec.
  //
  // Scale shape: salting splits each hot custkey's rows across 8 shuffle
  // partitions at the cost of an 8× replication of the (small) dimension
  // — the standard trade when one key dominates (e.g. the null/default
  // customer absorbing a crawl's unattributed orders).
  def q123SaltedJoin(spark: SparkSession, dir: String): DataFrame =
    saltedEquiJoin(
      Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice")),
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
      "o_custkey", "c_custkey", salts = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), Num.moneySum(col("o_totalprice")).as("total_rev"))
      .orderBy(col("c_nationkey"))

  val q123Sql: String =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // --------------------------------------------------------------------------
  // q194 — explicit bloom-filter semi-join reduction: build a Bloom sketch
  // over the join keys of a SELECTIVE dimension slice, broadcast the
  // sketch, and drop fact rows BEFORE they reach the join shuffle. The
  // exact equi-join afterwards removes the sketch's false positives, so
  // the result is bit-identical to the plain join — the bloom only cuts
  // shuffle volume, never changes semantics.
  //
  // Spark 4's AQE injects runtime bloom filters inside a single query
  // (ScaleSpec pins that); the EXPLICIT operator is for what the optimizer
  // can't do: reuse one sketch across many statements / micro-batches, or
  // prune before an expensive intermediate op the planner won't see
  // through. A 100M-key dim at 1% fpp is a ~115 MB sketch — broadcastable
  // when the dim's ROWS are not; expected leak past the prune is
  // |fact| · fpp, removed by the join.
  //
  // The sketch build is `df.stat.bloomFilter` (driver-merged, fixed-seed
  // murmur3 — deterministic, and insertion-order-free since bloom insert
  // is bitwise OR). The `count()` sizing pass scans only the dim slice.
  /** Prune `fact` rows whose `factKey` cannot be in `dim`'s `dimKey` set,
    * then exact-join. Result == fact ⋈ dim, with the fact side reduced
    * before the shuffle.
    */
  def bloomPruneJoin(fact: DataFrame, dim: DataFrame,
                     factKey: String, dimKey: String, fpp: Double): DataFrame = {
    val nKeys = dim.select(dimKey).distinct().count()
    // empty dim: the exact join result is empty and stat.bloomFilter NPEs
    // on its null merged sketch — the sketch prunes nothing from nothing
    if (nKeys == 0L) return fact.join(dim, col(factKey) === col(dimKey))
    val bf = dim.stat.bloomFilter(dimKey, nKeys, fpp)
    val bc = fact.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    fact.filter(mightContain(col(factKey)))
      .join(dim, col(factKey) === col(dimKey))
  }

  def q194BloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    bloomPruneJoin(
      Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice")),
      dim, "o_custkey", "c_custkey", fpp = 0.01)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), Num.moneySum(col("o_totalprice")).as("total_rev"))
      .orderBy(col("o_orderpriority"))
  }

  val q194Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q123_salted_join", q123SaltedJoin _, Some(q123Sql)),
    ("q194_bloom_prune_join", q194BloomPruneJoin _, Some(q194Sql)))
}
