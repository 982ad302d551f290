package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Capacity/engine planners and operational-BI audits — broadcast advisor, shuffle planner, task-skew audit, consistent-hash ring, salt planner, split balance, hash width + count-min audits, tail amplification, KM bands, variance bridge, aging, SLA, safety stock, QTE, suppressed release, independence tests, repeat latency, LTV triangle, growth accounting, ABC classification, supply concentration.
  *
  * Consolidated from the round-8 per-batch files (Round8aiOps, Round8alOps, Round8amOps, Round8aoOps, Round8apOps, Round8arOps, Round8atOps, Round8avOps, Round8awOps, Round8axOps, Round8zOps)
  * per the round-8 verdict's maintainability task: same operators,
  * same catalog entries, same oracles, byte-identical results —
  * only the file layout changed. Section markers preserve the
  * original batch scaladocs and boundaries.
  */
object CapacityAuditOps {
  // ═════════════════ formerly Round8aiOps ═════════════════
  /** Round-8 thirty-fifth operator batch: broadcast-threshold advisor and
    * shuffle-partition sizing planner — the join-strategy and stage-width
    * capacity tools beside q357 (salting) and q273 (LSH banding), on the
    * §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q375 — BROADCAST ADVISOR: for each declared FK join, measure the
  // build side EXACTLY — rows, variable bytes (Σ string lengths), and
  // fixed bytes (8 per numeric/date column) — and emit the
  // broadcast-vs-shuffle verdict against the 10 MiB default threshold
  // (spark.sql.autoBroadcastJoinThreshold). The same estimate an engine
  // makes from catalog stats, here computed from the data so q277-style
  // estimate drift is visible: a dimension that LOOKS broadcastable in
  // stale stats but has outgrown the threshold is exactly the 100 TB
  // plan regression this catches in CI.
  //
  // Scale: one aggregate per dimension table (the small side by
  // construction); the fact side is never touched.
  def broadcastAdvisor(sides: Seq[(String, DataFrame, Seq[String], Int)],
                       thresholdBytes: Long): DataFrame = {
    val dfs = sides.map { case (name, df, strCols, fixedCols) =>
      val varBytes: Column = if (strCols.isEmpty) lit(0L)
        else strCols.map(c => sum(length(col(c)).cast("long"))).reduce(_ + _)
      df.agg(count(lit(1)).as("rows"), varBytes.as("var_bytes"))
        .select(lit(name).as("build_side"), col("rows"),
          (col("var_bytes") + lit(8L * fixedCols) * col("rows"))
            .as("est_bytes"))
    }
    dfs.reduce(_ unionByName _)
      .withColumn("threshold_bytes", lit(thresholdBytes))
      .withColumn("verdict",
        when(col("est_bytes") <= col("threshold_bytes"), "broadcast")
          .otherwise("shuffle"))
      .withColumn("headroom_pct",
        expr("(100L * est_bytes) div threshold_bytes"))
      .orderBy(col("build_side"))
  }

  def q375BroadcastAdvisor(spark: SparkSession, dir: String): DataFrame =
    broadcastAdvisor(Seq(
      ("nation", Tables.nation(spark, dir), Seq("n_name"), 2),
      ("region", Tables.region(spark, dir), Seq("r_name"), 1),
      ("supplier", Tables.supplier(spark, dir), Seq("s_name"), 3),
      ("part", Tables.part(spark, dir),
        Seq("p_name", "p_brand", "p_type"), 3),
      ("customer", Tables.customer(spark, dir),
        Seq("c_name", "c_mktsegment"), 3)),
      thresholdBytes = 10L * 1024 * 1024)

  private def advSql(name: String, table: String, strCols: Seq[String],
                     fixedCols: Int): String = {
    val varExpr = if (strCols.isEmpty) "0"
      else strCols.map(c => s"SUM(CAST(length($c) AS BIGINT))").mkString(" + ")
    s"""SELECT '$name' AS build_side, COUNT(*) AS rows,
       |  $varExpr + ${8L * fixedCols} * COUNT(*) AS est_bytes
       |FROM $table""".stripMargin
  }

  val q375Sql: String = {
    val parts = Seq(
      advSql("nation", "nation", Seq("n_name"), 2),
      advSql("region", "region", Seq("r_name"), 1),
      advSql("supplier", "supplier", Seq("s_name"), 3),
      advSql("part", "part", Seq("p_name", "p_brand", "p_type"), 3),
      advSql("customer", "customer", Seq("c_name", "c_mktsegment"), 3))
      .mkString("(", ")\nUNION ALL\n(", ")")
    s"""WITH sides AS (
       |$parts)
       |SELECT build_side, rows, CAST(est_bytes AS BIGINT) AS est_bytes,
       |  CAST(${10L * 1024 * 1024} AS BIGINT) AS threshold_bytes,
       |  CASE WHEN est_bytes <= ${10L * 1024 * 1024} THEN 'broadcast'
       |    ELSE 'shuffle' END AS verdict,
       |  CAST((100 * est_bytes) // ${10L * 1024 * 1024} AS BIGINT)
       |    AS headroom_pct
       |FROM sides ORDER BY build_side""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q376 — SHUFFLE-PARTITION PLANNER: for each declared workload stage,
  // the EXACT bytes of the shuffled projection (only the columns that
  // cross the wire — Σ string lengths + 8·numeric count, the same
  // accounting as q375) and the partition count that hits the 128 MiB
  // target: parts = ceil(bytes/target) clamped to [1, 2000], plus
  // rows-per-partition at that width. The number every
  // spark.sql.shuffle.partitions override should come from instead of
  // folklore — and the audit that catches a stage whose projection
  // quietly grew past its configured width.
  //
  // Scale: one narrow aggregate per stage over exactly the columns the
  // stage would shuffle; nothing else moves.
  def shufflePlanner(stages: Seq[(String, DataFrame, Seq[String], Int)],
                     targetBytes: Long): DataFrame = {
    val dfs = stages.map { case (name, df, strCols, fixedCols) =>
      val varBytes: Column = if (strCols.isEmpty) lit(0L)
        else strCols.map(c => sum(length(col(c)).cast("long"))).reduce(_ + _)
      df.agg(count(lit(1)).as("rows"), varBytes.as("var_bytes"))
        .select(lit(name).as("stage"), col("rows"),
          (col("var_bytes") + lit(8L * fixedCols) * col("rows"))
            .as("shuffle_bytes"))
    }
    dfs.reduce(_ unionByName _)
      .withColumn("parts", greatest(lit(1L), least(lit(2000L),
        expr(s"(shuffle_bytes + ${targetBytes}L - 1L) div ${targetBytes}L"))))
      .withColumn("rows_per_part", expr("(rows + parts - 1L) div parts"))
      .orderBy(col("stage"))
  }

  def q376ShufflePlanner(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val docs = Tables.documents(spark, dir)
    shufflePlanner(Seq(
      ("lineitem_groupby_suppkey",
        li.select(col("l_suppkey"), col("l_extendedprice")), Nil, 2),
      ("orders_groupby_custkey",
        ord.select(col("o_custkey"), col("o_totalprice")), Nil, 2),
      ("orders_join_lineitem",
        li.select(col("l_orderkey"), col("l_extendedprice"),
          col("l_quantity")), Nil, 3),
      ("documents_token_explode",
        docs.select(col("doc_id"), col("text")), Seq("text"), 1)),
      targetBytes = 128L * 1024 * 1024)
  }

  val q376Sql: String = {
    val t = 128L * 1024 * 1024
    def st(name: String, table: String, varExpr: String, fixedCols: Int)
    : String =
      s"""SELECT '$name' AS stage, COUNT(*) AS rows,
         |  $varExpr + ${8L * fixedCols} * COUNT(*) AS shuffle_bytes
         |FROM $table""".stripMargin
    val parts = Seq(
      st("lineitem_groupby_suppkey", "lineitem", "0", 2),
      st("orders_groupby_custkey", "orders", "0", 2),
      st("orders_join_lineitem", "lineitem", "0", 3),
      st("documents_token_explode", "documents",
        "SUM(CAST(length(text) AS BIGINT))", 1))
      .mkString("(", ")\nUNION ALL\n(", ")")
    s"""WITH stages AS (
       |$parts),
       |sized AS (
       |  SELECT stage, rows, CAST(shuffle_bytes AS BIGINT) AS shuffle_bytes,
       |    GREATEST(1, LEAST(2000, (shuffle_bytes + $t - 1) // $t)) AS parts
       |  FROM stages)
       |SELECT stage, rows, shuffle_bytes, CAST(parts AS BIGINT) AS parts,
       |  CAST((rows + parts - 1) // parts AS BIGINT) AS rows_per_part
       |FROM sized ORDER BY stage""".stripMargin
  }

  private val catalogAi: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q375_broadcast_advisor", q375BroadcastAdvisor _, Some(q375Sql)),
    ("q376_shuffle_planner", q376ShufflePlanner _, Some(q376Sql)))

  // ═════════════════ formerly Round8alOps ═════════════════
  /** Round-8 thirty-eighth operator batch: task-skew memory audit and
    * small-cell suppression release — straggler risk quantification and
    * disclosure-control enforcement on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q381 — TASK-SKEW MEMORY AUDIT: q376 picks a partition count and
  // q357 decides salting; this AUDITS what a given width p actually
  // does to the shuffle: bucket every key by the portable `key mod p`
  // (hash functions differ across engines; the modulus is the
  // documented stand-in with the same collision structure for
  // sequential keys), and ship the exact max single-key mass, max
  // bucket mass, the skew ratio (max·p/total, 10⁶ = perfectly even),
  // and the est bytes of the heaviest task at the declared row width.
  // The "will one task OOM" readout a plan review wants BEFORE the job
  // runs.
  //
  // Scale: one key histogram, one p-bucket aggregate — the audit never
  // shuffles the fact table itself.
  def taskSkewAudit(fact: DataFrame, keyCol: String, p: Int, rowBytes: Long)
  : DataFrame = {
    val freq = fact.groupBy(col(keyCol).cast("long").as("k"))
      .agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val buckets = freq.groupBy(expr(s"pmod(k, ${p}L)").as("b"))
      .agg(sum(col("f")).as("load"))
    freq.agg(sum(col("f")).as("total_rows"), max(col("f")).as("max_key_rows"),
        count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(
        buckets.agg(max(col("load")).as("max_bucket_rows"),
          count(lit(1)).as("n_buckets"))))
      .select(lit(p.toLong).as("p"), col("total_rows"), col("n_keys"),
        col("n_buckets"), col("max_key_rows"), col("max_bucket_rows"),
        expr(s"(1000000L * max_bucket_rows * ${p}L) div total_rows")
          .as("skew_ppm"),
        (col("max_bucket_rows") * lit(rowBytes)).as("est_task_bytes"))
  }

  def q381TaskSkewAudit(spark: SparkSession, dir: String): DataFrame =
    taskSkewAudit(Tables.lineitem(spark, dir), "l_suppkey", p = 32,
      rowBytes = 48L)

  val q381Sql: String =
    """WITH freq AS (
      |  SELECT CAST(l_suppkey AS BIGINT) AS k, COUNT(*) AS f
      |  FROM lineitem GROUP BY 1),
      |buckets AS (
      |  SELECT ((k % 32) + 32) % 32 AS b, SUM(f) AS load
      |  FROM freq GROUP BY 1),
      |fa AS (
      |  SELECT SUM(f) AS total_rows, MAX(f) AS max_key_rows,
      |    COUNT(*) AS n_keys
      |  FROM freq),
      |ba AS (
      |  SELECT MAX(load) AS max_bucket_rows, COUNT(*) AS n_buckets
      |  FROM buckets)
      |SELECT CAST(32 AS BIGINT) AS p, CAST(total_rows AS BIGINT) AS total_rows,
      |  n_keys, n_buckets, CAST(max_key_rows AS BIGINT) AS max_key_rows,
      |  CAST(max_bucket_rows AS BIGINT) AS max_bucket_rows,
      |  CAST((1000000 * max_bucket_rows * 32) // total_rows AS BIGINT)
      |    AS skew_ppm,
      |  CAST(max_bucket_rows * 48 AS BIGINT) AS est_task_bytes
      |FROM fa, ba""".stripMargin

  // --------------------------------------------------------------------------
  // q382 — SMALL-CELL SUPPRESSION RELEASE: q180 AUDITS k-anonymity;
  // this ENFORCES it on the way out — the (nation, segment) balance
  // grid releases count and sum only where the cell holds ≥ k = 20
  // people, suppressed cells ship NULLs with the flag (primary
  // suppression; the grid's margins are not released, so no
  // complementary pass is needed). Every released number exact cents;
  // the suppression census rides on each row. The standard
  // statistical-disclosure-control release shape (frequency-threshold
  // rule).
  //
  // Scale: one grid aggregate over the bounded 25×5 QI cross + a
  // broadcast census row.
  def suppressedRelease(customer: DataFrame, k: Long): DataFrame = {
    val cell = customer.groupBy(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(c_acctbal * 100 + 0.5d) as bigint)")).as("s"))
      .localCheckpoint()
    val census = cell.agg(count(lit(1)).as("n_cells"),
      count_if(col("n") < k).as("n_suppressed"))
    cell.crossJoin(broadcast(census))
      .select(col("nation"), col("segment"),
        when(col("n") >= k, col("n")).otherwise(lit(null)).as("released_n"),
        when(col("n") >= k, col("s")).otherwise(lit(null))
          .as("released_sum_cents"),
        (col("n") < k).as("suppressed"),
        col("n_cells"), col("n_suppressed"))
      .orderBy(col("nation"), col("segment"))
  }

  def q382SuppressedRelease(spark: SparkSession, dir: String): DataFrame =
    suppressedRelease(Tables.customer(spark, dir), k = 20L)

  val q382Sql: String =
    """WITH cell AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
      |    COUNT(*) AS n,
      |    SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS s
      |  FROM customer GROUP BY 1, 2),
      |census AS (
      |  SELECT COUNT(*) AS n_cells,
      |    COUNT(*) FILTER (n < 20) AS n_suppressed
      |  FROM cell)
      |SELECT nation, segment,
      |  CASE WHEN n >= 20 THEN n END AS released_n,
      |  CASE WHEN n >= 20 THEN CAST(s AS BIGINT) END AS released_sum_cents,
      |  n < 20 AS suppressed, n_cells, n_suppressed
      |FROM cell, census ORDER BY nation, segment""".stripMargin

  private val catalogAl: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q381_task_skew_audit", q381TaskSkewAudit _, Some(q381Sql)),
    ("q382_suppressed_release", q382SuppressedRelease _, Some(q382Sql)))

  // ═════════════════ formerly Round8amOps ═════════════════
  /** Round-8 thirty-ninth operator batch: quantile treatment effect and
    * consistent-hash ring balance — distribution-level effect profiling
    * and placement-layer capacity audit on the §8.4 exact-integer
    * discipline.
    */

  // --------------------------------------------------------------------------
  // q383 — QUANTILE TREATMENT EFFECT: q369's Hodges–Lehmann gives ONE
  // robust shift; the QTE profile shows WHERE the distributions differ
  // — the exact nearest-rank decile (d = 1..9) of URGENT vs LOW order
  // value and their difference, at whole-dollar resolution (the grid
  // quantum that keeps the per-group value domain bounded — q118's
  // price-domain argument). Rank picks are pure integer comparisons
  // (10·cum ≥ d·n); a uniform shift moves every decile equally, a
  // tail effect only the top — the readout an A/B mean hides.
  //
  // Scale: one (group, dollar) grid aggregate; cum windows are
  // PARTITIONED by group over the bounded price domain; the decile
  // reshape is a 9-row explode.
  def qteProfile(orders: DataFrame): DataFrame = {
    val grid = orders
      .filter(col("o_orderpriority").startsWith("1") ||
        col("o_orderpriority").startsWith("5"))
      .select(when(col("o_orderpriority").startsWith("1"), "A").otherwise("B")
          .as("g"),
        expr("cast(floor(o_totalprice + 0.5d) as bigint)").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val cum = grid
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("g"))))
    def pick(d: Int) =
      min(when(col("cum") * 10 >= col("n") * d, col("v"))).as(s"d$d")
    val picks = cum.groupBy(col("g"))
      .agg(pick(1), pick(2), pick(3), pick(4), pick(5), pick(6), pick(7),
        pick(8), pick(9))
      .withColumn("x", explode(array((1 to 9).map(d =>
        struct(lit(d).as("decile"), col(s"d$d").as("q"))): _*)))
      .select(col("g"), col("x.decile").as("decile"), col("x.q").as("q"))
      .localCheckpoint()
    picks.filter(col("g") === "A")
      .select(col("decile"), col("q").as("q_urgent_dollars"))
      .join(picks.filter(col("g") === "B")
        .select(col("decile"), col("q").as("q_low_dollars")), Seq("decile"))
      .withColumn("qte_dollars", col("q_low_dollars") - col("q_urgent_dollars"))
      .orderBy(col("decile"))
  }

  def q383QteProfile(spark: SparkSession, dir: String): DataFrame =
    qteProfile(Tables.orders(spark, dir))

  val q383Sql: String = {
    val picks = (1 to 9).map(d =>
      s"MIN(CASE WHEN cum * 10 >= n * $d THEN v END) AS d$d").mkString(",\n      |    ")
    s"""WITH grid AS (
       |  SELECT CASE WHEN o_orderpriority LIKE '1%' THEN 'A' ELSE 'B' END AS g,
       |    CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v, COUNT(*) AS cnt
       |  FROM orders
       |  WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '5%'
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT g, v, cnt,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM grid),
       |picks AS (
       |  SELECT g,
       |    $picks
       |  FROM cum GROUP BY g),
       |longp AS (
       |  SELECT g, u.decile, CASE u.decile
       |      WHEN 1 THEN d1 WHEN 2 THEN d2 WHEN 3 THEN d3 WHEN 4 THEN d4
       |      WHEN 5 THEN d5 WHEN 6 THEN d6 WHEN 7 THEN d7 WHEN 8 THEN d8
       |      ELSE d9 END AS q
       |  FROM picks, UNNEST([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS u(decile))
       |SELECT a.decile, a.q AS q_urgent_dollars, b.q AS q_low_dollars,
       |  b.q - a.q AS qte_dollars
       |FROM (SELECT decile, q FROM longp WHERE g = 'A') a
       |JOIN (SELECT decile, q FROM longp WHERE g = 'B') b USING (decile)
       |ORDER BY decile""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q384 — CONSISTENT-HASH RING BALANCE: place 8 nodes × 16 vnodes on
  // the md5 ring (the house md5-uniform idiom — engine-portable, no
  // native hash), assign every supplier key to its clockwise-next
  // vnode (wrap to the ring minimum), and ship per-node key loads with
  // the imbalance ratio — the placement-layer audit behind any
  // sharded-serving or shuffle-service sizing question. All positions
  // and loads exact BIGINTs.
  //
  // Scale: the 128-vnode table is data-independent and broadcast; key
  // assignment is one broadcast range join (×128 candidate rows per
  // key collapsed by a min aggregate), linear in keys.
  def ringBalance(keys: DataFrame, nNodes: Int, nVnodes: Int): DataFrame = {
    val spark = keys.sparkSession
    // pos is made strictly unique (pos·128 + id) so the clockwise-next
    // pick needs no tie-break convention across engines
    val vnodes = spark.range(nNodes.toLong * nVnodes)
      .select((col("id") % nNodes).as("node"),
        (expr("cast(conv(substring(md5(concat('ring:', cast(id as string))), 1, 13), 16, 10) as bigint)")
          * lit(128L) + col("id")).as("pos"))
      .localCheckpoint()
    val ringMin = vnodes.orderBy(col("pos")).limit(1)
      .select(col("node").as("wrap_node"))
    val keyed = keys.select(col("k"),
      (expr("cast(conv(substring(md5(concat('key:', cast(k as string))), 1, 13), 16, 10) as bigint)")
        * lit(128L)).as("kpos"))
    val owner = keyed.join(broadcast(vnodes), col("pos") >= col("kpos"), "left")
      .groupBy(col("k"), col("kpos"))
      .agg(min(struct(col("pos"), col("node"))).as("o"))
      .crossJoin(broadcast(ringMin))
      .select(col("k"),
        coalesce(col("o.node"), col("wrap_node")).as("node"))
    owner.groupBy(col("node")).agg(count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(owner.agg(count(lit(1)).as("total"))))
      .select(col("node"), col("n_keys"),
        expr(s"(1000000L * n_keys * ${nNodes}L) div total").as("load_ppm"))
      .orderBy(col("node"))
  }

  def q384RingBalance(spark: SparkSession, dir: String): DataFrame =
    ringBalance(Tables.supplier(spark, dir)
      .select(col("s_suppkey").cast("long").as("k")), nNodes = 8, nVnodes = 16)

  val q384Sql: String =
    """WITH vn AS (
      |  SELECT i % 8 AS node,
      |    CAST(('0x' || substring(md5('ring:' || CAST(i AS VARCHAR)), 1, 13))
      |      AS BIGINT) * 128 + i AS pos
      |  FROM UNNEST(range(0, 128)) AS t(i)),
      |rmin AS (
      |  SELECT node AS wrap_node FROM vn ORDER BY pos LIMIT 1),
      |keyed AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS k,
      |    CAST(('0x' || substring(md5('key:' ||
      |      CAST(CAST(s_suppkey AS BIGINT) AS VARCHAR)), 1, 13)) AS BIGINT)
      |      * 128 AS kpos
      |  FROM supplier),
      |owner AS (
      |  SELECT k, COALESCE(arg_min(node, pos), ANY_VALUE(wrap_node)) AS node
      |  FROM keyed LEFT JOIN vn ON pos >= kpos, rmin
      |  GROUP BY k),
      |loads AS (SELECT node, COUNT(*) AS n_keys FROM owner GROUP BY 1),
      |tot AS (SELECT SUM(n_keys) AS total FROM loads)
      |SELECT node, n_keys,
      |  CAST((1000000 * n_keys * 8) // total AS BIGINT) AS load_ppm
      |FROM loads, tot ORDER BY node""".stripMargin

  private val catalogAm: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q383_qte_profile", q383QteProfile _, Some(q383Sql)),
    ("q384_ring_balance", q384RingBalance _, Some(q384Sql)))

  // ═════════════════ formerly Round8aoOps ═════════════════
  /** Round-8 forty-first operator batch: price/volume variance
    * decomposition and an open-order aging report — the FP&A revenue
    * bridge and the receivables staple on the §8.4 exact-integer
    * discipline.
    */

  // --------------------------------------------------------------------------
  // q387 — PRICE/VOLUME VARIANCE DECOMPOSITION: the revenue bridge
  // every finance review asks for — per brand, how much of the
  // first-half → second-half revenue change came from PRICE (unit
  // price moved), how much from VOLUME (units moved), with the
  // interaction left as an explicit reconciling residual:
  //   Δ = r₂ − r₁
  //   price = (u₁·r₂) div u₂ − r₁        (u₁·(p₂ − p₁), exact floor)
  //   volume = ((u₂ − u₁)·r₁) div u₁     (p₁·Δu, exact floor)
  //   residual = Δ − price − volume       (absorbs the floors + cross)
  // The rows always reconcile by construction — the property a float
  // bridge loses. Periods split at the data midpoint (q374's rule);
  // brands must trade in both halves to enter the bridge.
  //
  // Scale: one lineitem×orders orderkey join with a broadcast part
  // dim, one (brand, period) aggregate over the bounded brand grid.
  def varianceBridge(lineitem: DataFrame, orders: DataFrame, part: DataFrame)
  : DataFrame = {
    val dated = lineitem.select(col("l_orderkey").as("ok"),
        col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("q"),
        expr("cast(floor(l_extendedprice * 100 + 0.5d) as bigint)").as("cents"))
      .join(orders.select(col("o_orderkey").as("ok"),
        to_date(col("o_orderdate")).as("d")), Seq("ok"))
      .join(broadcast(part.select(col("p_partkey").as("pk"),
        col("p_brand").as("brand"))), Seq("pk"))
    val mid = dated.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("date_add(d0, cast(datediff(d1, d0) div 2L as int))")
        .as("dm"))
    dated.crossJoin(broadcast(mid))
      .groupBy(col("brand"))
      .agg(sum(when(col("d") < col("dm"), col("q")).otherwise(0L)).as("u1"),
        sum(when(col("d") < col("dm"), col("cents")).otherwise(0L)).as("r1"),
        sum(when(col("d") >= col("dm"), col("q")).otherwise(0L)).as("u2"),
        sum(when(col("d") >= col("dm"), col("cents")).otherwise(0L)).as("r2"))
      .filter(col("u1") > 0L && col("u2") > 0L)
      .select(col("brand"), col("u1"), col("r1"), col("u2"), col("r2"),
        (col("r2") - col("r1")).as("delta_cents"),
        expr("""cast((cast(u1 as decimal(38,0)) * r2) div u2 as bigint) - r1""")
          .as("price_eff_cents"),
        expr("""cast((cast(u2 - u1 as decimal(38,0)) * r1) div u1 as bigint)""")
          .as("volume_eff_cents"))
      .withColumn("residual_cents",
        col("delta_cents") - col("price_eff_cents") - col("volume_eff_cents"))
      .orderBy(col("brand"))
  }

  def q387VarianceBridge(spark: SparkSession, dir: String): DataFrame =
    varianceBridge(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.part(spark, dir))

  val q387Sql: String =
    """WITH dated AS (
      |  SELECT p_brand AS brand, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(o_orderdate AS DATE) AS d
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |mid AS (
      |  SELECT MIN(d) + CAST(date_diff('day', MIN(d), MAX(d)) // 2 AS INT) AS dm
      |  FROM dated),
      |per AS (
      |  SELECT brand,
      |    SUM(CASE WHEN d < dm THEN q ELSE 0 END) AS u1,
      |    SUM(CASE WHEN d < dm THEN cents ELSE 0 END) AS r1,
      |    SUM(CASE WHEN d >= dm THEN q ELSE 0 END) AS u2,
      |    SUM(CASE WHEN d >= dm THEN cents ELSE 0 END) AS r2
      |  FROM dated, mid GROUP BY 1),
      |bridge AS (
      |  SELECT brand, u1, r1, u2, r2, r2 - r1 AS delta_cents,
      |    CAST((u1::HUGEINT * r2) // u2 AS BIGINT) - r1 AS price_eff_cents,
      |    CAST(((u2 - u1)::HUGEINT * r1) // u1 AS BIGINT) AS volume_eff_cents
      |  FROM per WHERE u1 > 0 AND u2 > 0)
      |SELECT brand, CAST(u1 AS BIGINT) AS u1, CAST(r1 AS BIGINT) AS r1,
      |  CAST(u2 AS BIGINT) AS u2, CAST(r2 AS BIGINT) AS r2,
      |  CAST(delta_cents AS BIGINT) AS delta_cents,
      |  CAST(price_eff_cents AS BIGINT) AS price_eff_cents,
      |  CAST(volume_eff_cents AS BIGINT) AS volume_eff_cents,
      |  CAST(delta_cents - price_eff_cents - volume_eff_cents AS BIGINT)
      |    AS residual_cents
      |FROM bridge ORDER BY brand""".stripMargin

  // --------------------------------------------------------------------------
  // q388 — OPEN-ORDER AGING REPORT: the receivables staple — orders
  // not yet finished (status ≠ 'F') bucketed by age at the data's own
  // snapshot date (max order date) into the standard 0–30/31–90/
  // 91–365/365+ bands, with counts, exact value cents, and value share
  // ppm. Bands are integer day arithmetic off exact dates — no float
  // touches the bucketing.
  //
  // Scale: one filter + broadcast 1-row snapshot + a 4-band aggregate.
  def agingReport(orders: DataFrame): DataFrame = {
    val snap = orders.agg(to_date(max(col("o_orderdate"))).as("snap"))
    val banded = orders.filter(col("o_orderstatus") =!= "F")
      .crossJoin(broadcast(snap))
      .select(expr("datediff(snap, to_date(o_orderdate))").cast("long")
          .as("age"),
        expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)").as("cents"))
      .select(when(col("age") <= 30L, "a_0_30")
        .when(col("age") <= 90L, "b_31_90")
        .when(col("age") <= 365L, "c_91_365")
        .otherwise("d_over_365").as("band"), col("cents"))
    val tot = banded.agg(sum(col("cents")).as("t"))
    banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("value_cents"))
      .crossJoin(broadcast(tot))
      .select(col("band"), col("n_orders"), col("value_cents"),
        expr("(1000000L * value_cents) div t").as("value_share_ppm"))
      .orderBy(col("band"))
  }

  def q388AgingReport(spark: SparkSession, dir: String): DataFrame =
    agingReport(Tables.orders(spark, dir))

  val q388Sql: String =
    """WITH snap AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS snap FROM orders),
      |banded AS (
      |  SELECT CASE
      |      WHEN date_diff('day', CAST(o_orderdate AS DATE), snap) <= 30
      |        THEN 'a_0_30'
      |      WHEN date_diff('day', CAST(o_orderdate AS DATE), snap) <= 90
      |        THEN 'b_31_90'
      |      WHEN date_diff('day', CAST(o_orderdate AS DATE), snap) <= 365
      |        THEN 'c_91_365'
      |      ELSE 'd_over_365' END AS band,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders, snap WHERE o_orderstatus <> 'F'),
      |tot AS (SELECT SUM(cents) AS t FROM banded)
      |SELECT band, COUNT(*) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS value_cents,
      |  CAST((1000000 * SUM(cents)) // t AS BIGINT) AS value_share_ppm
      |FROM banded, tot GROUP BY band, t ORDER BY band""".stripMargin

  private val catalogAo: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q387_variance_bridge", q387VarianceBridge _, Some(q387Sql)),
    ("q388_aging_report", q388AgingReport _, Some(q388Sql)))

  // ═════════════════ formerly Round8apOps ═════════════════
  /** Round-8 forty-second operator batch: SLA attainment with Wilson
    * bounds and a safety-stock planner — operational compliance and
    * inventory sizing on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q389 — SLA ATTAINMENT + WILSON BOUNDS: per priority class, the
  // share of line items shipped within 60 days, as the exact integer
  // ratio AND the Wilson 95% score interval — the interval that stays
  // inside [0,1] and behaves at attainment ≈ 1 where the naive ±1.96σ
  // interval breaks. Counts are exact BIGINTs; the two bounds are ONE
  // fixed double dag (z = 1.959964) + pround(6) each. The compliance
  // readout q363 (does priority order latency) and q369 (by how much)
  // lead up to.
  //
  // Scale: one orderkey join, one 5-row aggregate.
  def slaAttainment(lineitem: DataFrame, orders: DataFrame, slaDays: Int)
  : DataFrame = {
    val rows = lineitem.select(col("l_orderkey").as("ok"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey").as("ok"), col("o_orderdate"),
        col("o_orderpriority")), Seq("ok"))
      .select(col("o_orderpriority").as("priority"),
        (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          <= slaDays).as("hit"))
    rows.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), count_if(col("hit")).as("hits"))
      .withColumn("attain_ppm", expr("(1000000L * hits) div n"))
      .withColumn("p_hat", col("hits").cast("double") / col("n"))
      .withColumn("z2", lit(1.959964 * 1.959964))
      .withColumn("center",
        (col("p_hat") + col("z2") / (lit(2.0) * col("n")))
          / (lit(1.0) + col("z2") / col("n")))
      .withColumn("half",
        (lit(1.959964) * sqrt(col("p_hat") * (lit(1.0) - col("p_hat"))
          / col("n") + col("z2") / (lit(4.0) * col("n") * col("n"))))
          / (lit(1.0) + col("z2") / col("n")))
      .select(col("priority"), col("n"), col("hits"), col("attain_ppm"),
        Num.pround(col("center") - col("half"), 6).as("wilson_lo6"),
        Num.pround(col("center") + col("half"), 6).as("wilson_hi6"))
      .orderBy(col("priority"))
  }

  def q389SlaAttainment(spark: SparkSession, dir: String): DataFrame =
    slaAttainment(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      slaDays = 60)

  val q389Sql: String =
    """WITH rows_ AS (
      |  SELECT o_orderpriority AS priority,
      |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      |      <= 60 AS hit
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |agg AS (
      |  SELECT priority, COUNT(*) AS n, COUNT(*) FILTER (hit) AS hits
      |  FROM rows_ GROUP BY 1),
      |d AS (
      |  SELECT priority, n, hits,
      |    CAST(hits AS DOUBLE) / n AS p_hat,
      |    1.959964 * 1.959964 AS z2
      |  FROM agg),
      |w AS (
      |  SELECT priority, n, hits, p_hat, z2,
      |    (p_hat + z2 / (2.0 * n)) / (1.0 + z2 / n) AS center,
      |    (1.959964 * sqrt(p_hat * (1.0 - p_hat) / n
      |      + z2 / (4.0 * n * n))) / (1.0 + z2 / n) AS half
      |  FROM d)
      |SELECT priority, n, CAST(hits AS BIGINT) AS hits,
      |  CAST((1000000 * hits) // n AS BIGINT) AS attain_ppm,
      |  FLOOR((center - half) * 1e6 + 0.5) / 1e6 AS wilson_lo6,
      |  FLOOR((center + half) * 1e6 + 0.5) / 1e6 AS wilson_hi6
      |FROM w ORDER BY priority""".stripMargin

  // --------------------------------------------------------------------------
  // q390 — SAFETY-STOCK PLANNER: per brand, daily demand mean and
  // variance from EXACT sufficient statistics over the zero-filled
  // calendar (days without demand count — omitting them understates σ
  // and is the classic planner bug), then safety stock = z·σ·√L and
  // reorder point = μ·L + SS for a 7-day lead time at 95% service —
  // the inventory readout every fulfillment pipeline sizes against.
  // Sufficient stats are exact BIGINTs (n·Σq² − S² form); only the
  // final σ/SS/ROP are a fixed dag + pround.
  //
  // Scale: one lineitem×orders join collapses to the (brand, day)
  // grid; zero-filling uses the global day COUNT (not a densified
  // cross) via the moment identity over n = calendar days.
  def safetyStock(lineitem: DataFrame, orders: DataFrame, part: DataFrame)
  : DataFrame = {
    val dated = lineitem.select(col("l_orderkey").as("ok"),
        col("l_partkey").as("pk"), col("l_quantity").cast("long").as("q"))
      .join(orders.select(col("o_orderkey").as("ok"),
        to_date(col("o_orderdate")).as("d")), Seq("ok"))
      .join(broadcast(part.select(col("p_partkey").as("pk"),
        col("p_brand").as("brand"))), Seq("pk"))
    val byDay = dated.groupBy(col("brand"), col("d"))
      .agg(sum(col("q")).as("dq"))
    val nDays = dated.agg(countDistinct(col("d")).as("nd"))
    byDay.groupBy(col("brand"))
      .agg(count(lit(1)).as("active_days"), sum(col("dq")).as("s"),
        sum(expr("cast(dq as decimal(38,0)) * dq")).as("q2"))
      .crossJoin(broadcast(nDays))
      .withColumn("mu", col("s").cast("double") / col("nd"))
      .withColumn("var_d", expr(
        """(cast(nd as double) * cast(q2 as double)
          | - cast(s as double) * cast(s as double))
          | / (cast(nd as double) * (cast(nd as double) - 1.0d))"""
        .stripMargin))
      .withColumn("ss", lit(1.644854) * sqrt(col("var_d")) * sqrt(lit(7.0)))
      .select(col("brand"), col("nd").as("n_days"), col("active_days"),
        col("s").as("total_units"),
        Num.pround(col("mu"), 4).as("mu_units4"),
        Num.pround(col("ss"), 2).as("safety_stock2"),
        Num.pround(col("mu") * lit(7.0) + col("ss"), 2).as("reorder_point2"))
      .orderBy(col("brand"))
  }

  def q390SafetyStock(spark: SparkSession, dir: String): DataFrame =
    safetyStock(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.part(spark, dir))

  val q390Sql: String =
    """WITH dated AS (
      |  SELECT p_brand AS brand, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(o_orderdate AS DATE) AS d
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |byday AS (
      |  SELECT brand, d, SUM(q) AS dq FROM dated GROUP BY 1, 2),
      |nd AS (SELECT COUNT(DISTINCT d) AS nd FROM dated),
      |agg AS (
      |  SELECT brand, COUNT(*) AS active_days, SUM(dq) AS s,
      |    SUM(dq::HUGEINT * dq) AS q2
      |  FROM byday GROUP BY 1),
      |d2 AS (
      |  SELECT brand, nd, active_days, s,
      |    CAST(s AS DOUBLE) / nd AS mu,
      |    (CAST(nd AS DOUBLE) * CAST(q2 AS DOUBLE)
      |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |      / (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1.0)) AS var_d
      |  FROM agg, nd),
      |d3 AS (
      |  SELECT *, 1.644854 * sqrt(var_d) * sqrt(7.0) AS ss FROM d2)
      |SELECT brand, CAST(nd AS BIGINT) AS n_days, active_days,
      |  CAST(s AS BIGINT) AS total_units,
      |  FLOOR((mu) * 1e4 + 0.5) / 1e4 AS mu_units4,
      |  FLOOR((ss) * 1e2 + 0.5) / 1e2 AS safety_stock2,
      |  FLOOR((mu * 7.0 + ss) * 1e2 + 0.5) / 1e2 AS reorder_point2
      |FROM d3 ORDER BY brand""".stripMargin

  private val catalogAp: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q389_sla_attainment", q389SlaAttainment _, Some(q389Sql)),
    ("q390_safety_stock", q390SafetyStock _, Some(q390Sql)))

  // ═════════════════ formerly Round8arOps ═════════════════
  /** Round-8 forty-fourth operator batch: feature-hash width audit and
    * count-min fidelity audit — hashing-layer capacity planning and
    * sketch-error measurement on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q393 — HASH-WIDTH COLLISION AUDIT: feature hashing (q171's layer)
  // trades width for collisions; this measures the actual trade on the
  // real vocabulary — for each candidate width w ∈ {1k, 4k, 16k, 64k},
  // the occupied-bucket census and the share of types that share a
  // bucket (the features whose signal gets mixed). All exact counts
  // off md5 buckets (engine-portable); the sizing table a feature
  // pipeline consults instead of folklore ("64k is enough").
  //
  // Scale: one type-count pass, a ×4 width explode over the vocabulary
  // (Heaps-bounded, far below the corpus), two hash aggregates.
  def hashWidthAudit(docs: DataFrame, widths: Seq[Int]): DataFrame = {
    val types = docs.select(explode(TextOps.toks).as("w"))
      .select(col("w")).distinct()
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat('fh:', w)), 1, 13), 16, 10) as bigint)"))
      .localCheckpoint()
    val widthCol = array(widths.map(lit): _*)
    val buckets = types
      .select(explode(widthCol).as("width"), col("h"))
      .select(col("width"), pmod(col("h"), col("width").cast("long"))
        .as("bucket"))
      .groupBy(col("width"), col("bucket")).agg(count(lit(1)).as("k"))
    buckets.groupBy(col("width"))
      .agg(sum(col("k")).as("n_types"),
        count(lit(1)).as("occupied_buckets"),
        sum(when(col("k") === 1L, 1L).otherwise(0L)).as("singleton_types"),
        sum(when(col("k") > 1L, col("k")).otherwise(0L)).as("collided_types"))
      .withColumn("collision_ppm",
        expr("(1000000L * collided_types) div n_types"))
      .orderBy(col("width"))
  }

  def q393HashWidthAudit(spark: SparkSession, dir: String): DataFrame =
    hashWidthAudit(Tables.documents(spark, dir),
      Seq(1024, 4096, 16384, 65536))

  val q393Sql: String =
    s"""WITH types AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT UNNEST(t) AS w
       |    FROM (SELECT ${TextOps.toksSqlD} AS t FROM documents))),
       |hashed AS (
       |  SELECT w, CAST(('0x' || substring(md5('fh:' || w), 1, 13)) AS BIGINT)
       |    AS h
       |  FROM types),
       |buckets AS (
       |  SELECT width, ((h % width) + width) % width AS bucket,
       |    COUNT(*) AS k
       |  FROM hashed, UNNEST([1024, 4096, 16384, 65536]) AS u(width)
       |  GROUP BY 1, 2)
       |SELECT CAST(width AS INT) AS width, CAST(SUM(k) AS BIGINT) AS n_types,
       |  COUNT(*) AS occupied_buckets,
       |  CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS singleton_types,
       |  CAST(SUM(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT)
       |    AS collided_types,
       |  CAST((1000000 * SUM(CASE WHEN k > 1 THEN k ELSE 0 END)) // SUM(k)
       |    AS BIGINT) AS collision_ppm
       |FROM buckets GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q394 — COUNT-MIN FIDELITY AUDIT: q77 ships a CMS; this MEASURES
  // one — a d = 4 × w = 256 sketch built from md5 row-hashes over the
  // token stream, audited against the exact counts of the top-20
  // types: est = min over rows of the cell sum, always ≥ truth, with
  // the overestimate in exact ppm. The sketch-sizing evidence (does
  // 4×256 hold this corpus's skew?) that otherwise lives in a paper's
  // ε·N bound.
  //
  // Scale: one token-count pass; cells are a (4 × 256)-bounded
  // aggregate over the vocabulary; the audit joins 20 keys × 4 rows
  // against the broadcast cell grid.
  def cmsAudit(docs: DataFrame, depth: Int, width: Int, topK: Int)
  : DataFrame = {
    val freq = docs.select(explode(TextOps.toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val rows = freq.select(col("w"), col("f"),
      explode(expr(s"sequence(0, ${depth - 1})")).as("d"))
      .withColumn("bucket", expr(
        s"cast(conv(substring(md5(concat('cms', d, ':', w)), 1, 13), 16, 10) as bigint) % ${width}L"))
    val cells = rows.groupBy(col("d"), col("bucket"))
      .agg(sum(col("f")).as("cell"))
    val top = freq.orderBy(col("f").desc, col("w")).limit(topK)
      .select(col("w"), col("f"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("d"))
      .withColumn("bucket", expr(
        s"cast(conv(substring(md5(concat('cms', d, ':', w)), 1, 13), 16, 10) as bigint) % ${width}L"))
    top.join(broadcast(cells), Seq("d", "bucket"))
      .groupBy(col("w"), col("f"))
      .agg(min(col("cell")).as("est"))
      .select(col("w").as("token"), col("f").as("true_f"), col("est"),
        expr("(1000000L * (est - f)) div f").as("over_ppm"))
      .orderBy(col("true_f").desc, col("token"))
  }

  def q394CmsAudit(spark: SparkSession, dir: String): DataFrame =
    cmsAudit(Tables.documents(spark, dir), depth = 4, width = 256,
      topK = 20)

  val q394Sql: String =
    s"""WITH freq AS (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT UNNEST(t) AS w
       |    FROM (SELECT ${TextOps.toksSqlD} AS t FROM documents))
       |  GROUP BY 1),
       |rows_ AS (
       |  SELECT w, f, d,
       |    CAST(('0x' || substring(md5('cms' || d || ':' || w), 1, 13))
       |      AS BIGINT) % 256 AS bucket
       |  FROM freq, UNNEST([0, 1, 2, 3]) AS u(d)),
       |cells AS (
       |  SELECT d, bucket, SUM(f) AS cell FROM rows_ GROUP BY 1, 2),
       |top AS (
       |  SELECT w, f FROM freq ORDER BY f DESC, w LIMIT 20),
       |audit AS (
       |  SELECT t.w, t.f, MIN(cell) AS est
       |  FROM (
       |    SELECT top.w, top.f, u.d,
       |      CAST(('0x' || substring(md5('cms' || u.d || ':' || top.w), 1, 13))
       |        AS BIGINT) % 256 AS bucket
       |    FROM top, UNNEST([0, 1, 2, 3]) AS u(d)) t
       |  JOIN cells ON t.d = cells.d AND t.bucket = cells.bucket
       |  GROUP BY 1, 2)
       |SELECT w AS token, CAST(f AS BIGINT) AS true_f,
       |  CAST(est AS BIGINT) AS est,
       |  CAST((1000000 * (est - f)) // f AS BIGINT) AS over_ppm
       |FROM audit ORDER BY true_f DESC, token""".stripMargin

  private val catalogAr: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q393_hash_width_audit", q393HashWidthAudit _, Some(q393Sql)),
    ("q394_cms_audit", q394CmsAudit _, Some(q394Sql)))

  // ═════════════════ formerly Round8atOps ═════════════════
  /** Round-8 forty-sixth operator batch: tail-latency amplification and
    * Kaplan–Meier Greenwood bands — the straggler tax and survival-curve
    * uncertainty on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q397 — TAIL AMPLIFICATION ("the tail at scale"): a stage of k
  // parallel tasks finishes when its SLOWEST task does, so the stage
  // 99th percentile needs the per-task CDF at (0.99)^(1/k) — but pow
  // is not cross-libm portable, so the test runs the OTHER way,
  // entirely in integers: per latency value, the per-task CDF ratio
  // quantizes to r = (10⁶·cum) div n, the stage CDF at fan-out 2^j is
  // the j-times repeated square in ppm fixed point (q273's s-curve
  // machinery — floors only, engine-identical), and the answer per
  // k ∈ {1,16,64,256,1024} is the SMALLEST latency whose chained ppm
  // clears 990000. The capacity table that says how many extra days of
  // latency budget each 4× of fan-out costs.
  //
  // Scale: the corpus collapses to the latency-day grid; the squaring
  // chain is 10 row-local integer ops; probes are grid minima.
  def tailAmplification(rows: DataFrame): DataFrame = {
    val grid = rows.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
    val n = grid.agg(sum(col("c")).as("n"))
    var cur = grid.crossJoin(broadcast(n))
      .withColumn("s0", expr("(1000000L * cum) div n"))
    for (j <- 1 to 10)
      cur = cur.withColumn(s"s$j",
        expr(s"(s${j - 1} * s${j - 1}) div 1000000L"))
    val staged = cur.select(col("v"), col("n"),
      explode(expr(
        """array(named_struct('k', 1L,    's', s0),
          |      named_struct('k', 16L,   's', s4),
          |      named_struct('k', 64L,   's', s6),
          |      named_struct('k', 256L,  's', s8),
          |      named_struct('k', 1024L, 's', s10))""".stripMargin)).as("x"))
      .select(col("v"), col("n"), col("x.k").as("k"), col("x.s").as("s"))
    staged.filter(col("s") >= 990000L)
      .groupBy(col("k"))
      .agg(first(col("n")).as("n_tasks_pop"),
        min(col("v")).as("stage_p99_latency_days"))
      .orderBy(col("k"))
  }

  def q397TailAmplification(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("ok"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_shipdate"))
    tailAmplification(li.join(o, Seq("ok"))
      .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
        .cast("long").as("v")))
  }

  val q397Sql: String = {
    val chain = (1 to 10).map(j =>
      s"t$j AS (SELECT *, (s${j - 1} * s${j - 1}) // 1000000 AS s$j FROM t${j - 1})")
      .mkString(",\n|")
    s"""WITH rows_ AS (
       |  SELECT date_diff('day', CAST(o_orderdate AS DATE),
       |    CAST(l_shipdate AS DATE)) AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |grid AS (
       |  SELECT v, COUNT(*) AS c FROM rows_ GROUP BY 1),
       |cum AS (
       |  SELECT v, c, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM grid),
       |nn AS (SELECT SUM(c) AS n FROM grid),
       |t0 AS (SELECT v, n, (1000000 * cum) // n AS s0 FROM cum, nn),
       |$chain,
       |staged AS (
       |  SELECT v, n, u.k,
       |    CASE u.k WHEN 1 THEN s0 WHEN 16 THEN s4 WHEN 64 THEN s6
       |      WHEN 256 THEN s8 ELSE s10 END AS s
       |  FROM t10, UNNEST([1, 16, 64, 256, 1024]) AS u(k))
       |SELECT CAST(k AS BIGINT) AS k, CAST(ANY_VALUE(n) AS BIGINT)
       |    AS n_tasks_pop,
       |  CAST(MIN(v) AS BIGINT) AS stage_p99_latency_days
       |FROM staged WHERE s >= 990000 GROUP BY k ORDER BY k""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q398 — KAPLAN–MEIER GREENWOOD BANDS: q237 ships the survival curve
  // point estimate; a release decision needs its uncertainty. The
  // Greenwood variance Var(S) = S²·Σ d/(n(n−d)) accumulates as ONE
  // more double cum-sum over the same duration grid (every summand a
  // ratio of exact integers), and the 95% bands clamp to [0,1]. Same
  // censoring rule, same grid, three new columns — the complete
  // survival readout.
  //
  // Scale: q237's shape exactly — the corpus collapses to the
  // duration grid, all windows run there.
  def q398KmBands(spark: SparkSession, dir: String): DataFrame =
    kmBands(Tables.events(spark, dir))

  def kmBands(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val g = perUser.agg(max(col("t1")).as("tend"), count(lit(1)).as("total"))
    val durs = perUser.crossJoin(broadcast(g))
      .withColumn("dur", datediff(to_date(col("t1")), to_date(col("t0"))))
      .withColumn("churn",
        (col("t1") < col("tend") - expr("INTERVAL 14 DAYS")).cast("int"))
    val byDur = durs.groupBy(col("dur"))
      .agg(sum(col("churn")).as("d"),
        (count(lit(1)) - sum(col("churn"))).as("c"),
        first(col("total")).as("total"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk",
        col("total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("lnf",
        when(col("d") < col("n_risk"),
          log((col("n_risk") - col("d")).cast("double") / col("n_risk")))
          .otherwise(lit(0.0)))
      .withColumn("gterm",
        when(col("d") > 0L && col("d") < col("n_risk"),
          col("d").cast("double")
            / (col("n_risk") * (col("n_risk") - col("d"))).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("dead",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wCum))
      .withColumn("surv", exp(sum(col("lnf")).over(wCum)))
      .withColumn("se", col("surv") * sqrt(sum(col("gterm")).over(wCum)))
      .select(col("dur"), col("n_risk"), col("d"), col("c"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(Num.pround(col("surv"), 6)).as("survival"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(Num.pround(col("se"), 6)).as("se6"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(Num.pround(
            greatest(col("surv") - lit(1.959964) * col("se"), lit(0.0)), 6))
          .as("lo6"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(Num.pround(
            least(col("surv") + lit(1.959964) * col("se"), lit(1.0)), 6))
          .as("hi6"))
      .orderBy(col("dur"))
  }

  val q398Sql: String =
    """WITH peru AS (
      |  SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1 FROM events GROUP BY 1),
      |g AS (SELECT MAX(t1) AS tend, COUNT(*) AS total FROM peru),
      |d AS (
      |  SELECT datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS dur,
      |    CASE WHEN t1 < tend - INTERVAL 14 DAY THEN 1 ELSE 0 END AS churn,
      |    total
      |  FROM peru, g),
      |byd AS (
      |  SELECT dur, CAST(SUM(churn) AS BIGINT) AS d,
      |    CAST(COUNT(*) - SUM(churn) AS BIGINT) AS c,
      |    ANY_VALUE(total) AS total
      |  FROM d GROUP BY 1),
      |w AS (
      |  SELECT dur, d, c,
      |    total - COALESCE(SUM(d + c) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM byd),
      |s AS (
      |  SELECT dur, n_risk, d, c,
      |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER cum AS dead,
      |    EXP(SUM(CASE WHEN d < n_risk
      |      THEN LN(CAST(n_risk - d AS DOUBLE) / n_risk) ELSE 0 END)
      |      OVER cum) AS surv,
      |    SUM(CASE WHEN d > 0 AND d < n_risk
      |      THEN CAST(d AS DOUBLE) / (n_risk * (n_risk - d)) ELSE 0 END)
      |      OVER cum AS gsum
      |  FROM w
      |  WINDOW cum AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW))
      |SELECT dur, CAST(n_risk AS BIGINT) AS n_risk, d, c,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE FLOOR((surv) * 1e6 + 0.5) / 1e6 END AS survival,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE FLOOR((surv * sqrt(gsum)) * 1e6 + 0.5) / 1e6 END AS se6,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE FLOOR((GREATEST(surv - 1.959964 * (surv * sqrt(gsum)), 0.0))
      |      * 1e6 + 0.5) / 1e6 END AS lo6,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE FLOOR((LEAST(surv + 1.959964 * (surv * sqrt(gsum)), 1.0))
      |      * 1e6 + 0.5) / 1e6 END AS hi6
      |FROM s ORDER BY dur""".stripMargin

  private val catalogAt: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q397_tail_amplification", q397TailAmplification _, Some(q397Sql)),
    ("q398_km_bands", q398KmBands _, Some(q398Sql)))

  // ═════════════════ formerly Round8avOps ═════════════════
  /** Round-8 forty-eighth operator batch: three-way mutual-independence
    * test and repeat-purchase latency quartiles — multi-factor
    * association and retention timing on the §8.4 exact-integer
    * discipline.
    */

  // --------------------------------------------------------------------------
  // q401 — THREE-WAY MUTUAL INDEPENDENCE: q370 tests pairs; a report
  // sliced by (priority × status × segment) silently assumes the THREE
  // factors factorize. Under mutual independence E = n_a·n_b·n_c/N²,
  // and the observed-cells identity generalizes:
  //   χ² = Σ obs²·N²/(n_a·n_b·n_c) − N
  // (zero cells contribute only to the −N term), accumulated as
  // NON-NEGATIVE exact floors term_ppm = (10⁶·obs²·N²) div (n_a·n_b·n_c)
  // — sign-safe across div/floor-div engines, every margin an exact
  // BIGINT. Ships N, the three cardinalities, df, and χ²_ppm.
  //
  // Scale: one (a,b,c) grid aggregate (5×3×5 here) + three broadcast
  // margins; the fact table is scanned once for cells, once per
  // margin pair — all hash aggregates.
  def threewayIndependence(rows: DataFrame): DataFrame = {
    val cell = rows.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("obs")).localCheckpoint()
    val ma = cell.groupBy(col("a")).agg(sum(col("obs")).as("na"))
    val mb = cell.groupBy(col("b")).agg(sum(col("obs")).as("nb"))
    val mc = cell.groupBy(col("c")).agg(sum(col("obs")).as("nc"))
    val dims = cell.agg(sum(col("obs")).as("nn"),
      countDistinct(col("a")).as("ka"), countDistinct(col("b")).as("kb"),
      countDistinct(col("c")).as("kc"))
    cell.join(broadcast(ma), Seq("a")).join(broadcast(mb), Seq("b"))
      .join(broadcast(mc), Seq("c"))
      .crossJoin(broadcast(dims))
      .agg(first(col("nn")).as("n"), first(col("ka")).as("ka"),
        first(col("kb")).as("kb"), first(col("kc")).as("kc"),
        sum(expr(
          """(cast(1000000 as decimal(38,0)) * obs * obs * nn * nn)
            | div (cast(na as decimal(38,0)) * nb * nc)""".stripMargin))
          .as("sum_term"))
      .select(col("n"), col("ka"), col("kb"), col("kc"),
        expr("ka * kb * kc - ka - kb - kc + 2").as("df"),
        (col("sum_term") - expr("cast(1000000 as decimal(38,0)) * n"))
          .cast("long").as("chi2_ppm"))
  }

  def q401ThreewayIndependence(spark: SparkSession, dir: String): DataFrame =
    threewayIndependence(
      Tables.orders(spark, dir)
        .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("c"))), Seq("o_custkey"))
        .select(col("o_orderpriority").as("a"),
          col("o_orderstatus").as("b"), col("c")))

  val q401Sql: String =
    """WITH rows_ AS (
      |  SELECT o_orderpriority AS a, o_orderstatus AS b, c_mktsegment AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cell AS (
      |  SELECT a, b, c, COUNT(*) AS obs FROM rows_ GROUP BY 1, 2, 3),
      |ma AS (SELECT a, SUM(obs) AS na FROM cell GROUP BY 1),
      |mb AS (SELECT b, SUM(obs) AS nb FROM cell GROUP BY 1),
      |mc AS (SELECT c, SUM(obs) AS nc FROM cell GROUP BY 1),
      |dims AS (
      |  SELECT SUM(obs) AS nn, COUNT(DISTINCT a) AS ka,
      |    COUNT(DISTINCT b) AS kb, COUNT(DISTINCT c) AS kc
      |  FROM cell)
      |SELECT CAST(ANY_VALUE(nn) AS BIGINT) AS n,
      |  CAST(ANY_VALUE(ka) AS BIGINT) AS ka,
      |  CAST(ANY_VALUE(kb) AS BIGINT) AS kb,
      |  CAST(ANY_VALUE(kc) AS BIGINT) AS kc,
      |  CAST(ANY_VALUE(ka) * ANY_VALUE(kb) * ANY_VALUE(kc)
      |    - ANY_VALUE(ka) - ANY_VALUE(kb) - ANY_VALUE(kc) + 2 AS BIGINT)
      |    AS df,
      |  CAST(SUM((1000000::HUGEINT * obs * obs * nn * nn)
      |      // (na::HUGEINT * nb * nc))
      |    - 1000000::HUGEINT * ANY_VALUE(nn) AS BIGINT) AS chi2_ppm
      |FROM cell JOIN ma USING (a) JOIN mb USING (b) JOIN mc USING (c),
      |  dims""".stripMargin

  // --------------------------------------------------------------------------
  // q402 — REPEAT-PURCHASE LATENCY: per customer, the gaps between
  // consecutive orders (lead over the per-customer order sequence,
  // tie-broken by orderkey), then EXACT quartiles of the gap
  // distribution per market segment — nearest-rank picks off the
  // per-segment cumulative value grid (q298's partitioned machinery,
  // 10·cum ≥ p·n integer comparisons). The retention-timing readout
  // (how long until a customer comes back, by segment) that a mean
  // gap would smear.
  //
  // Scale: one per-customer sort window (natural key distribution),
  // a (segment, gap) grid aggregate, partitioned cum windows over the
  // bounded gap-day domain.
  def repeatLatency(orders: DataFrame, customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ck"))
      .orderBy(col("d"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("ck"),
        to_date(col("o_orderdate")).as("d"))
      .withColumn("nxt", lead(col("d"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("ck"), datediff(col("nxt"), col("d")).cast("long").as("gap"))
      .join(broadcast(customer.select(col("c_custkey").cast("long").as("ck"),
        col("c_mktsegment").as("segment"))), Seq("ck"))
    val grid = gaps.groupBy(col("segment"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
    val cum = grid
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("segment")).orderBy(col("gap"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("segment"))))
    def pick(p: Int) =
      min(when(col("cum") * 4 >= col("n") * p, col("gap"))).as(s"q$p")
    cum.groupBy(col("segment"))
      .agg(max(col("n")).as("n_gaps"), pick(1), pick(2), pick(3))
      .select(col("segment"), col("n_gaps"), col("q1").as("q1_days"),
        col("q2").as("median_days"), col("q3").as("q3_days"))
      .orderBy(col("segment"))
  }

  def q402RepeatLatency(spark: SparkSession, dir: String): DataFrame =
    repeatLatency(Tables.orders(spark, dir), Tables.customer(spark, dir))

  val q402Sql: String =
    """WITH seq AS (
      |  SELECT CAST(o_custkey AS BIGINT) AS ck, CAST(o_orderdate AS DATE) AS d,
      |    LEAD(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS nxt
      |  FROM orders),
      |gaps AS (
      |  SELECT c_mktsegment AS segment, date_diff('day', d, nxt) AS gap
      |  FROM seq JOIN customer ON ck = c_custkey
      |  WHERE nxt IS NOT NULL),
      |grid AS (
      |  SELECT segment, gap, COUNT(*) AS cnt FROM gaps GROUP BY 1, 2),
      |cum AS (
      |  SELECT segment, gap, cnt,
      |    SUM(cnt) OVER (PARTITION BY segment ORDER BY gap
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER (PARTITION BY segment) AS n
      |  FROM grid)
      |SELECT segment, CAST(MAX(n) AS BIGINT) AS n_gaps,
      |  CAST(MIN(CASE WHEN cum * 4 >= n * 1 THEN gap END) AS BIGINT)
      |    AS q1_days,
      |  CAST(MIN(CASE WHEN cum * 4 >= n * 2 THEN gap END) AS BIGINT)
      |    AS median_days,
      |  CAST(MIN(CASE WHEN cum * 4 >= n * 3 THEN gap END) AS BIGINT)
      |    AS q3_days
      |FROM cum GROUP BY segment ORDER BY segment""".stripMargin

  private val catalogAv: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q401_threeway_independence", q401ThreewayIndependence _, Some(q401Sql)),
    ("q402_repeat_latency", q402RepeatLatency _, Some(q402Sql)))

  // ═════════════════ formerly Round8awOps ═════════════════
  /** Round-8 forty-ninth operator batch: LTV cohort triangle and growth
    * accounting — the two CRM staples every revenue review opens with,
    * on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q403 — LTV COHORT TRIANGLE: customers cohort by first-order month
  // (integer month index — (year−1990)·12 + month, no date library
  // semantics to diverge), and each cohort's CUMULATIVE revenue per
  // customer unrolls by age — the triangle whose flattening curves
  // justify (or kill) acquisition spend. Cumulative sums run per
  // cohort over the ≤~25-row age axis; observed-age sparsity is kept
  // (a cohort silent at age a simply has no row — the cum picks up at
  // the next purchase). q131 tracks activity retention; this tracks
  // the MONEY.
  //
  // Scale: one per-(customer, month) aggregate, a broadcast cohort
  // dimension, cum windows partitioned by cohort over the month grid.
  def ltvTriangle(orders: DataFrame): DataFrame = {
    val om = orders.select(col("o_custkey").cast("long").as("ck"),
      expr("(year(to_date(o_orderdate)) - 1990) * 12 + month(to_date(o_orderdate))")
        .cast("long").as("m"),
      expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)").as("cents"))
    val perCm = om.groupBy(col("ck"), col("m"))
      .agg(sum(col("cents")).as("rev")).localCheckpoint()
    val cohort = perCm.groupBy(col("ck")).agg(min(col("m")).as("cm"))
    val sized = cohort.groupBy(col("cm")).agg(count(lit(1)).as("cohort_n"))
    val aged = perCm.join(cohort, Seq("ck"))
      .select(col("cm"), (col("m") - col("cm")).as("age"), col("rev"))
      .groupBy(col("cm"), col("age"))
      .agg(sum(col("rev")).as("rev"), count(lit(1)).as("active_customers"))
    aged
      .withColumn("cum_rev", sum(col("rev")).over(
        Window.partitionBy(col("cm")).orderBy(col("age"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(sized), Seq("cm"))
      .select(col("cm").as("cohort_month"), col("age"),
        col("active_customers"), col("cohort_n"),
        col("cum_rev").as("cum_rev_cents"),
        expr("cum_rev div cohort_n").as("cum_rev_per_cust_cents"))
      .orderBy(col("cohort_month"), col("age"))
  }

  def q403LtvTriangle(spark: SparkSession, dir: String): DataFrame =
    ltvTriangle(Tables.orders(spark, dir))

  val q403Sql: String =
    """WITH om AS (
      |  SELECT CAST(o_custkey AS BIGINT) AS ck,
      |    (year(CAST(o_orderdate AS DATE)) - 1990) * 12
      |      + month(CAST(o_orderdate AS DATE)) AS m,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |percm AS (SELECT ck, m, SUM(cents) AS rev FROM om GROUP BY 1, 2),
      |cohort AS (SELECT ck, MIN(m) AS cm FROM percm GROUP BY 1),
      |sized AS (SELECT cm, COUNT(*) AS cohort_n FROM cohort GROUP BY 1),
      |aged AS (
      |  SELECT cm, m - cm AS age, SUM(rev) AS rev,
      |    COUNT(*) AS active_customers
      |  FROM percm JOIN cohort USING (ck) GROUP BY 1, 2),
      |cum AS (
      |  SELECT cm, age, active_customers,
      |    SUM(rev) OVER (PARTITION BY cm ORDER BY age
      |      ROWS UNBOUNDED PRECEDING) AS cum_rev
      |  FROM aged)
      |SELECT CAST(cm AS BIGINT) AS cohort_month, CAST(age AS BIGINT) AS age,
      |  active_customers, CAST(cohort_n AS BIGINT) AS cohort_n,
      |  CAST(cum_rev AS BIGINT) AS cum_rev_cents,
      |  CAST(cum_rev // cohort_n AS BIGINT) AS cum_rev_per_cust_cents
      |FROM cum JOIN sized USING (cm)
      |ORDER BY cohort_month, age""".stripMargin

  // --------------------------------------------------------------------------
  // q404 — GROWTH ACCOUNTING: each month's active customers decompose
  // EXACTLY into new (first month), retained (also active last month)
  // and resurrected (active before, silent last month); churned is
  // last month's actives who went silent. The additivity
  // new + retained + resurrected = active holds by construction —
  // the invariant every hand-built growth deck eventually violates.
  //
  // Churned is the DIRECT count of customers active in m−1 and absent in
  // m (anti-join on the shifted month), reported on a DENSIFIED month
  // grid (sequence over min..max month) — the round-8 advice fix: the
  // earlier lag(active)−retained took the previous ROW of the monthly
  // aggregate, so after a zero-active calendar month it subtracted
  // against a non-adjacent month. On gap-free data (every driver SF) the
  // two forms are value-identical (lag(active)−retained =
  // |A(m−1)|−|A(m−1)∩A(m)| = |A(m−1)\A(m)|); the direct form is also
  // right when a month is empty, and the empty month itself now emits an
  // explicit all-zero row carrying its churn.
  //
  // Scale: one distinct (customer, month) aggregate, two self-joins on
  // (customer, month±1), one first-month join, all equi on bounded keys;
  // the grid is a 1-row min/max aggregate exploded to ≤ span months.
  def growthAccounting(orders: DataFrame): DataFrame = {
    val am = orders.select(col("o_custkey").cast("long").as("ck"),
        expr("(year(to_date(o_orderdate)) - 1990) * 12 + month(to_date(o_orderdate))")
          .cast("long").as("m"))
      .distinct().localCheckpoint()
    val first = am.groupBy(col("ck")).agg(min(col("m")).as("fm"))
    val flagged = am
      .join(am.select(col("ck"), (col("m") + 1L).as("m"))
        .withColumn("was_prev", lit(1L)), Seq("ck", "m"), "left")
      .join(first, Seq("ck"))
      .select(col("m"),
        when(col("fm") === col("m"), 1L).otherwise(0L).as("is_new"),
        coalesce(col("was_prev"), lit(0L)).as("was_prev"))
    val monthly = flagged.groupBy(col("m"))
      .agg(count(lit(1)).as("active"),
        sum(col("is_new")).as("new_custs"),
        sum(when(col("is_new") === 0L, col("was_prev")).otherwise(0L))
          .as("retained"),
        sum(when(col("is_new") === 0L && col("was_prev") === 0L, 1L)
          .otherwise(0L)).as("resurrected"))
    val churn = am.select(col("ck"), (col("m") + 1L).as("m"))
      .join(am, Seq("ck", "m"), "left_anti")
      .groupBy(col("m")).agg(count(lit(1)).as("ch"))
    val grid = am.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("m"))
    grid
      .join(monthly, Seq("m"), "left")
      .join(churn, Seq("m"), "left")
      .select(col("m").as("month"),
        coalesce(col("active"), lit(0L)).as("active"),
        coalesce(col("new_custs"), lit(0L)).as("new_custs"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("ch"), lit(0L)).as("churned"))
      .orderBy(col("month"))
  }

  def q404GrowthAccounting(spark: SparkSession, dir: String): DataFrame =
    growthAccounting(Tables.orders(spark, dir))

  val q404Sql: String =
    """WITH am AS (
      |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS ck,
      |    (year(CAST(o_orderdate AS DATE)) - 1990) * 12
      |      + month(CAST(o_orderdate AS DATE)) AS m
      |  FROM orders),
      |first_ AS (SELECT ck, MIN(m) AS fm FROM am GROUP BY 1),
      |flagged AS (
      |  SELECT a.m,
      |    CASE WHEN f.fm = a.m THEN 1 ELSE 0 END AS is_new,
      |    CASE WHEN p.ck IS NULL THEN 0 ELSE 1 END AS was_prev
      |  FROM am a
      |  LEFT JOIN am p ON a.ck = p.ck AND p.m = a.m - 1
      |  JOIN first_ f ON a.ck = f.ck),
      |monthly AS (
      |  SELECT m, COUNT(*) AS active, SUM(is_new) AS new_custs,
      |    SUM(CASE WHEN is_new = 0 THEN was_prev ELSE 0 END) AS retained,
      |    SUM(CASE WHEN is_new = 0 AND was_prev = 0 THEN 1 ELSE 0 END)
      |      AS resurrected
      |  FROM flagged GROUP BY 1),
      |churn AS (
      |  SELECT a.m + 1 AS m, COUNT(*) AS ch
      |  FROM am a LEFT JOIN am n ON a.ck = n.ck AND n.m = a.m + 1
      |  WHERE n.ck IS NULL GROUP BY 1),
      |grid AS (
      |  SELECT UNNEST(generate_series(MIN(m), MAX(m))) AS m FROM am)
      |SELECT CAST(g.m AS BIGINT) AS month,
      |  CAST(COALESCE(active, 0) AS BIGINT) AS active,
      |  CAST(COALESCE(new_custs, 0) AS BIGINT) AS new_custs,
      |  CAST(COALESCE(retained, 0) AS BIGINT) AS retained,
      |  CAST(COALESCE(resurrected, 0) AS BIGINT) AS resurrected,
      |  CAST(COALESCE(ch, 0) AS BIGINT) AS churned
      |FROM grid g
      |LEFT JOIN monthly mo ON mo.m = g.m
      |LEFT JOIN churn c ON c.m = g.m
      |ORDER BY month""".stripMargin

  private val catalogAw: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q403_ltv_triangle", q403LtvTriangle _, Some(q403Sql)),
    ("q404_growth_accounting", q404GrowthAccounting _, Some(q404Sql)))

  // ═════════════════ formerly Round8axOps ═════════════════
  /** Round-8 fiftieth operator batch: ABC inventory classification and
    * supply-concentration risk — the two procurement staples, on the
    * §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q405 — ABC CLASSIFICATION: parts rank into A (the units carrying
  // the top ~80% of revenue), B (next ~15%) and C (the long tail) — at
  // $100 revenue-band granularity, so the classification runs on the
  // BOUNDED band grid instead of a global part sort (a per-part rank
  // window would grow with the dimension; the band histogram does
  // not). Descending cumulative share classifies each band by exact
  // cross-multiplication (100·cum vs 80·total / 95·total); per class:
  // part count, revenue cents, exact share ppm. The skew census behind
  // every cycle-count policy.
  //
  // Scale: one part-revenue aggregate, one band histogram, one cum
  // window over the ≤ price-domain band grid.
  def abcClassification(lineitem: DataFrame): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("cast(floor(l_extendedprice * 100 + 0.5d) as bigint)"))
        .as("rev"))
    val bands = perPart.groupBy(expr("rev div 10000L").as("band"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev"))
    val tot = bands.agg(sum(col("rev")).as("t"))
    val classed = bands.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("rev")).over(
        Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cls",
        when(col("cum") * 100 <= col("t") * 80, "A")
          .when(col("cum") * 100 <= col("t") * 95, "B")
          .otherwise("C"))
    classed.groupBy(col("cls"))
      .agg(sum(col("n_parts")).as("n_parts"), sum(col("rev")).as("rev_cents"),
        first(col("t")).as("t"))
      .select(col("cls"), col("n_parts"), col("rev_cents"),
        expr("(1000000L * rev_cents) div t").as("rev_share_ppm"))
      .orderBy(col("cls"))
  }

  def q405AbcClassification(spark: SparkSession, dir: String): DataFrame =
    abcClassification(Tables.lineitem(spark, dir))

  val q405Sql: String =
    """WITH perpart AS (
      |  SELECT l_partkey AS pk,
      |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
      |  FROM lineitem GROUP BY 1),
      |bands AS (
      |  SELECT rev // 10000 AS band, COUNT(*) AS n_parts, SUM(rev) AS rev
      |  FROM perpart GROUP BY 1),
      |tot AS (SELECT SUM(rev) AS t FROM bands),
      |classed AS (
      |  SELECT n_parts, rev, t,
      |    CASE WHEN SUM(rev) OVER (ORDER BY band DESC
      |        ROWS UNBOUNDED PRECEDING) * 100 <= t * 80 THEN 'A'
      |      WHEN SUM(rev) OVER (ORDER BY band DESC
      |        ROWS UNBOUNDED PRECEDING) * 100 <= t * 95 THEN 'B'
      |      ELSE 'C' END AS cls
      |  FROM bands, tot)
      |SELECT cls, CAST(SUM(n_parts) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev) AS BIGINT) AS rev_cents,
      |  CAST((1000000 * SUM(rev)) // ANY_VALUE(t) AS BIGINT)
      |    AS rev_share_ppm
      |FROM classed GROUP BY cls ORDER BY cls""".stripMargin

  // --------------------------------------------------------------------------
  // q406 — SUPPLY CONCENTRATION: per part, how much of its revenue
  // runs through its single largest supplier (top_share_ppm — the
  // exact per-part analogue of q304's market-level HHI). Ships the
  // top-10 most supplier-concentrated parts (deterministic rank:
  // revenue desc, suppkey asc inside each part; share desc, part asc
  // across parts) with the global census columns — part count,
  // single-source count (the hard failure mode), and the exact mean
  // top-share — riding on every row. The procurement-risk readout
  // beside q163 (integrity) and q304 (HHI).
  //
  // Scale: one (part, supplier) aggregate; the per-part argmax is a
  // window PARTITIONED by part; census is one broadcast row.
  def supplyConcentration(lineitem: DataFrame): DataFrame = {
    val ps = lineitem.groupBy(col("l_partkey").as("pk"),
        col("l_suppkey").as("sk"))
      .agg(sum(expr("cast(floor(l_extendedprice * 100 + 0.5d) as bigint)"))
        .as("rev"))
      .localCheckpoint()
    val top = ps
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pk"))
          .orderBy(col("rev").desc, col("sk"))))
      .withColumn("n_supp", count(lit(1)).over(
        Window.partitionBy(col("pk"))))
      .withColumn("tot", sum(col("rev")).over(Window.partitionBy(col("pk"))))
      .filter(col("rn") === 1)
      .select(col("pk"), col("sk").as("top_suppkey"), col("n_supp"),
        expr("(1000000L * rev) div tot").as("top_share_ppm"))
      .localCheckpoint()
    val census = top.agg(count(lit(1)).as("n_parts"),
      count_if(col("n_supp") === 1L).as("single_source_parts"),
      expr("sum(top_share_ppm) div count(1)").as("mean_top_share_ppm"))
    top.crossJoin(broadcast(census))
      .orderBy(col("top_share_ppm").desc, col("pk"))
      .limit(10)
      .select(col("pk").as("partkey"), col("top_suppkey"), col("n_supp"),
        col("top_share_ppm"), col("n_parts"), col("single_source_parts"),
        col("mean_top_share_ppm"))
  }

  def q406SupplyConcentration(spark: SparkSession, dir: String): DataFrame =
    supplyConcentration(Tables.lineitem(spark, dir))

  val q406Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |ranked AS (
      |  SELECT pk, sk, rev,
      |    ROW_NUMBER() OVER (PARTITION BY pk ORDER BY rev DESC, sk) AS rn,
      |    COUNT(*) OVER (PARTITION BY pk) AS n_supp,
      |    SUM(rev) OVER (PARTITION BY pk) AS tot
      |  FROM ps),
      |top AS (
      |  SELECT pk, sk AS top_suppkey, n_supp,
      |    (1000000 * rev) // tot AS top_share_ppm
      |  FROM ranked WHERE rn = 1),
      |census AS (
      |  SELECT COUNT(*) AS n_parts,
      |    COUNT(*) FILTER (n_supp = 1) AS single_source_parts,
      |    SUM(top_share_ppm) // COUNT(*) AS mean_top_share_ppm
      |  FROM top)
      |SELECT pk AS partkey, top_suppkey, CAST(n_supp AS BIGINT) AS n_supp,
      |  CAST(top_share_ppm AS BIGINT) AS top_share_ppm,
      |  n_parts, CAST(single_source_parts AS BIGINT) AS single_source_parts,
      |  CAST(mean_top_share_ppm AS BIGINT) AS mean_top_share_ppm
      |FROM top, census ORDER BY top_share_ppm DESC, pk LIMIT 10""".stripMargin


  private val catalogAx: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q405_abc_classification", q405AbcClassification _, Some(q405Sql)),
    ("q406_supply_concentration", q406SupplyConcentration _, Some(q406Sql)))

  // ═════════════════ formerly Round8zOps ═════════════════
  /** Round-8 twenty-sixth operator batch: adaptive salting planner and
    * split balance audit — shuffle-skew capacity planning and split
    * hygiene on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q357 — SALT-FACTOR PLANNER: Skew.scala ships the salting MECHANISMS
  // (fixed salt count); this is the planner that sizes them from the
  // measured key histogram — per key, salt_k = ceil(freq/target), so
  // hot keys split into ≤ target-row buckets while cold keys stay
  // un-salted (q273 is the same tool for LSH banding; q277 audits the
  // cardinality estimates this plan consumes). Ships the top-20
  // hottest keys (freq, salt, post-salt bucket ceiling) plus the plan
  // summary every row carries: #keys, #hot keys, small-side
  // replication cost Σ salt_k, and the max bucket before/after — the
  // straggler headroom the plan buys. All exact BIGINTs.
  //
  // Scale: one hash aggregate over the fact scan, a 1-row summary
  // broadcast, a top-20 selection. The planner itself never shuffles
  // the fact table.
  def saltPlanner(fact: DataFrame, keyCol: String, target: Long,
                  topK: Int): DataFrame = {
    val freq = fact.groupBy(col(keyCol).cast("long").as("k"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("salt", expr(s"(freq + ${target}L - 1L) div ${target}L"))
      .withColumn("bucket_ceil", expr("(freq + salt - 1L) div salt"))
    val su = freq.agg(count(lit(1)).as("n_keys"),
      count_if(col("salt") > 1L).as("n_hot_keys"),
      sum(col("salt")).as("replication_cost"),
      max(col("freq")).as("max_before"),
      max(col("bucket_ceil")).as("max_after"))
    freq.crossJoin(broadcast(su))
      .orderBy(col("freq").desc, col("k"))
      .limit(topK)
      .select(col("k").as("key"), col("freq"), col("salt"), col("bucket_ceil"),
        col("n_keys"), col("n_hot_keys"), col("replication_cost"),
        col("max_before"), col("max_after"))
  }

  def q357SaltPlanner(spark: SparkSession, dir: String): DataFrame =
    saltPlanner(Tables.lineitem(spark, dir), "l_suppkey", target = 100L,
      topK = 20)

  val q357Sql: String =
    """WITH freq AS (
      |  SELECT CAST(l_suppkey AS BIGINT) AS k, COUNT(*) AS freq
      |  FROM lineitem GROUP BY 1),
      |pl AS (
      |  SELECT k, freq, (freq + 99) // 100 AS salt,
      |    (freq + (freq + 99) // 100 - 1) // ((freq + 99) // 100) AS bucket_ceil
      |  FROM freq),
      |su AS (
      |  SELECT COUNT(*) AS n_keys,
      |    COUNT(*) FILTER (salt > 1) AS n_hot_keys,
      |    SUM(salt) AS replication_cost,
      |    MAX(freq) AS max_before, MAX(bucket_ceil) AS max_after
      |  FROM pl)
      |SELECT k AS key, freq, CAST(salt AS BIGINT) AS salt,
      |  CAST(bucket_ceil AS BIGINT) AS bucket_ceil,
      |  CAST(n_keys AS BIGINT) AS n_keys, CAST(n_hot_keys AS BIGINT) AS n_hot_keys,
      |  CAST(replication_cost AS BIGINT) AS replication_cost,
      |  CAST(max_before AS BIGINT) AS max_before,
      |  CAST(max_after AS BIGINT) AS max_after
      |FROM pl CROSS JOIN su
      |ORDER BY freq DESC, k LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // q358 — SPLIT BALANCE AUDIT: after a deterministic content-hash
  // 3-way split (q90's md5 rule: train/val/test by hash band), does
  // each split carry the GLOBAL source mixture? Per split, the χ²
  // distance to the pooled source distribution with every term an
  // exact per-cell floor:
  //   term_ppm = (10⁶·(obs·N − n_split·n_src)²) div (n_split·n_src·N)
  // summed as exact BIGINTs (term-wise floors are deterministic). The
  // release gate that catches a split whose hash key accidentally
  // correlates with provenance.
  //
  // Scale: one row-local hash + two grid aggregates over the
  // (split × source) contingency — 3×20 cells.
  def splitBalance(docs: DataFrame): DataFrame = {
    val tagged = docs.select(col("source"),
      expr("""case when cast(conv(substring(md5(concat('split:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 10 < 8
             |  then 'train'
             |  when cast(conv(substring(md5(concat('split:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 10 < 9
             |  then 'val' else 'test' end""".stripMargin).as("split"))
    val cell = tagged.groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("obs"))
    val bySplit = cell.groupBy(col("split")).agg(sum(col("obs")).as("ns"))
    val bySrc = cell.groupBy(col("source")).agg(sum(col("obs")).as("nr"))
    val tot = cell.agg(sum(col("obs")).as("nn"))
    cell.join(broadcast(bySplit), Seq("split"))
      .join(broadcast(bySrc), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("term_ppm", expr(
        """cast(((cast(1000000 as decimal(38,0))
          |  * (obs * nn - ns * nr) * (obs * nn - ns * nr))
          | div (cast(ns as decimal(38,0)) * nr * nn)) as bigint)""".stripMargin))
      .groupBy(col("split"))
      .agg(first(col("ns")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("term_ppm")).as("chi2_ppm"))
      .orderBy(col("split"))
  }

  def q358SplitBalance(spark: SparkSession, dir: String): DataFrame =
    splitBalance(Tables.documents(spark, dir))

  val q358Sql: String =
    """WITH tagged AS (
      |  SELECT source,
      |    CASE WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10 < 8
      |      THEN 'train'
      |      WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10 < 9
      |      THEN 'val' ELSE 'test' END AS split
      |  FROM documents),
      |cell AS (SELECT split, source, COUNT(*) AS obs FROM tagged GROUP BY 1, 2),
      |bs AS (SELECT split, SUM(obs) AS ns FROM cell GROUP BY 1),
      |br AS (SELECT source, SUM(obs) AS nr FROM cell GROUP BY 1),
      |tt AS (SELECT SUM(obs) AS nn FROM cell),
      |terms AS (
      |  SELECT split, ns,
      |    CAST((1000000::HUGEINT * (obs * nn - ns * nr) * (obs * nn - ns * nr))
      |      // (ns::HUGEINT * nr * nn) AS BIGINT) AS term_ppm
      |  FROM cell JOIN bs USING (split) JOIN br USING (source) CROSS JOIN tt)
      |SELECT split, CAST(ANY_VALUE(ns) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_sources, CAST(SUM(term_ppm) AS BIGINT) AS chi2_ppm
      |FROM terms GROUP BY split ORDER BY split""".stripMargin

  private val catalogZ: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q357_salt_planner", q357SaltPlanner _, Some(q357Sql)),
    ("q358_split_balance", q358SplitBalance _, Some(q358Sql)))

  // ═════════════════ formerly Round8cOps (consolidated round 10) ═════════════════


  /** orders columns unpivoted to (col_name, v) with every value in a
    * PORTABLE canonical string form (ints and strings only — doubles ride
    * as exact cents, so no engine-specific float formatting is hashed).
    */
  private def unpivoted(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(explode(array(
      struct(lit("o_orderstatus").as("col_name"),
        col("o_orderstatus").cast("string").as("v")),
      struct(lit("o_orderpriority").as("col_name"),
        col("o_orderpriority").cast("string").as("v")),
      struct(lit("o_custkey").as("col_name"),
        col("o_custkey").cast("string").as("v")),
      struct(lit("o_totalprice_cents").as("col_name"),
        expr("cast(cast(floor(o_totalprice * 100 + 0.5d) as bigint) as string)").as("v"))))
      .as("c")).select(col("c.col_name").as("col_name"), col("c.v").as("v"))

  private val unpivotSql: String =
    """SELECT col_name, v FROM (
      |    SELECT 'o_orderstatus' AS col_name, o_orderstatus::VARCHAR AS v FROM orders
      |    UNION ALL
      |    SELECT 'o_orderpriority', o_orderpriority::VARCHAR FROM orders
      |    UNION ALL
      |    SELECT 'o_custkey', o_custkey::VARCHAR FROM orders
      |    UNION ALL
      |    SELECT 'o_totalprice_cents',
      |      CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
      |    FROM orders)""".stripMargin

  // --------------------------------------------------------------------------
  // q291 — ONE-PASS DATA PROFILER: per-column row count, null count,
  // exact distinct count, lexicographic min/max of the canonical string
  // form, and total character mass — the Deequ-style profile a warehouse
  // materializes for every landed table before anything else touches it.
  //
  // Scale: the unpivot is a row-local explode (4 rows per input row); the
  // profile is one hash aggregate per (column, value) then per column —
  // two shuffles on bounded-width keys, corpus-linear. At 100 TB swap the
  // exact distinct for q24's HLL and the plan shape is unchanged.
  //
  // Determinism: counts and lengths are exact integers; min/max are
  // ASCII-lexicographic on canonical integer/categorical strings —
  // identical collation both engines.
  def q291DataProfile(spark: SparkSession, dir: String): DataFrame =
    unpivoted(spark, dir)
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        count_if(col("v").isNull).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(length(col("v"))).cast("long").as("total_chars"))
      .orderBy(col("col_name"))

  val q291Sql: String =
    s"""WITH u AS ($unpivotSql)
       |SELECT col_name, COUNT(*) AS n_rows,
       |  CAST(COUNT(*) FILTER (v IS NULL) AS BIGINT) AS n_null,
       |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       |  MIN(v) AS min_v, MAX(v) AS max_v,
       |  CAST(SUM(length(v)) AS BIGINT) AS total_chars
       |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin

  // --------------------------------------------------------------------------
  // q293 — STORAGE ENCODING ADVISOR: per column, estimate the byte cost
  // of PLAIN vs DICTIONARY encoding from one stats pass — plain =
  // total character mass; dict = distinct-value character mass +
  // n·ceil(log2(distinct))/8 index bytes — and recommend the cheaper
  // one. The decision a columnar writer (parquet's dictionary fallback)
  // makes per page, surfaced as a layout-planning readout (q195/q196's
  // zone-map family, applied to encoding choice).
  //
  // Determinism: bit width = length(bin(distinct − 1)) — exact integer
  // arithmetic end to end, no log2 libm call.
  def q293EncodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val perValue = unpivoted(spark, dir)
      .groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    perValue
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(length(col("v")) * col("cnt")).cast("long").as("plain_bytes"),
        sum(length(col("v"))).cast("long").as("dict_value_bytes"))
      .withColumn("bits", when(col("n_distinct") <= 1, lit(1))
        .otherwise(length(expr("bin(n_distinct - 1)"))))
      .withColumn("dict_bytes",
        col("dict_value_bytes") + expr("(n_rows * bits + 7) div 8"))
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("plain_bytes"), col("dict_bytes").cast("long").as("dict_bytes"),
        when(col("dict_bytes") < col("plain_bytes"), lit("DICT"))
          .otherwise(lit("PLAIN")).as("encoding"))
      .orderBy(col("col_name"))
  }

  val q293Sql: String =
    s"""WITH u AS ($unpivotSql),
       |pv AS (SELECT col_name, v, COUNT(*) AS cnt FROM u GROUP BY 1, 2),
       |st AS (
       |  SELECT col_name, SUM(cnt) AS n_rows, COUNT(*) AS n_distinct,
       |    SUM(length(v) * cnt) AS plain_bytes,
       |    SUM(length(v)) AS dict_value_bytes
       |  FROM pv GROUP BY 1),
       |b AS (
       |  SELECT *, CASE WHEN n_distinct <= 1 THEN 1
       |    ELSE length(bin(CAST(n_distinct - 1 AS BIGINT))) END AS bits
       |  FROM st)
       |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(n_distinct AS BIGINT) AS n_distinct,
       |  CAST(plain_bytes AS BIGINT) AS plain_bytes,
       |  CAST(dict_value_bytes + (n_rows * bits + 7) // 8 AS BIGINT) AS dict_bytes,
       |  CASE WHEN dict_value_bytes + (n_rows * bits + 7) // 8 < plain_bytes
       |    THEN 'DICT' ELSE 'PLAIN' END AS encoding
       |FROM b ORDER BY col_name""".stripMargin


  private val catalogR8: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q291_data_profile", q291DataProfile _, Some(q291Sql)),
    ("q293_encoding_advisor", q293EncodingAdvisor _, Some(q293Sql)))

  // --------------------------------------------------------------------------
  // q428 — LSH BUCKET-SKEW FORECAST (round 11): before running the
  // MinHash-LSH candidate join (q32) at 100 TB, what will the band
  // buckets actually look like? Computes a PORTABLE 4-hash MinHash
  // signature (md5 — both engines implement the same RFC, unlike q32's
  // Spark-only xxhash64), bands it 2×2, and reports per band: bucket
  // count, the largest bucket, and the candidate-pair mass Σ b·(b−1)/2 —
  // the EXACT number of pair comparisons the banded equi-join will
  // generate. q273 prices recall analytically from the similarity
  // histogram; this prices the JOIN COST from the real bucket
  // distribution, and a hot bucket here is the salting signal (q357)
  // before the sweep, not an OOM during it.
  //
  // Scale: one shingle explode × 4 hash evaluations (row-local md5),
  // one (doc, i) hash aggregate for the mins, one per-doc pivot to the
  // 2-band signature, and a bounded groupBy on (band, sig) — linear end
  // to end; nothing all-pairs anywhere.
  def q428LshBucketForecast(spark: SparkSession, dir: String): DataFrame = {
    val idx = spark.range(1).select(explode(expr("array(0, 1, 2, 3)")).as("i"))
    val mins = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.shingles(3)).as("s"))
      .crossJoin(broadcast(idx))
      .select(col("doc_id"), col("i"),
        md5(concat(col("s"), lit("#"), col("i").cast("string"))).as("h"))
      .groupBy(col("doc_id"), col("i")).agg(min(col("h")).as("m"))
    val sig = mins.groupBy(col("doc_id"))
      .agg(max(when(col("i") === 0, col("m"))).as("m0"),
        max(when(col("i") === 1, col("m"))).as("m1"),
        max(when(col("i") === 2, col("m"))).as("m2"),
        max(when(col("i") === 3, col("m"))).as("m3"))
    val banded = sig.select(col("doc_id"), explode(array(
      struct(lit(0).as("band"), md5(concat(col("m0"), col("m1"))).as("sig")),
      struct(lit(1).as("band"), md5(concat(col("m2"), col("m3"))).as("sig")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
    banded.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("b"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("b")).as("docs"),
        max(col("b")).as("max_bucket"),
        sum(expr("b * (b - 1L) div 2")).as("cand_pairs"))
      .orderBy(col("band"))
  }

  val q428Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |mins AS (
       |  SELECT doc_id, i, MIN(md5(s || '#' || i)) AS m
       |  FROM sh CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i)
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN i = 0 THEN m END) AS m0,
       |    MAX(CASE WHEN i = 1 THEN m END) AS m1,
       |    MAX(CASE WHEN i = 2 THEN m END) AS m2,
       |    MAX(CASE WHEN i = 3 THEN m END) AS m3
       |  FROM mins GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(m0 || m1) AS sig FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, md5(m2 || m3) FROM sig),
       |buckets AS (
       |  SELECT band, sig, COUNT(*) AS b FROM banded GROUP BY 1, 2)
       |SELECT band, COUNT(*) AS n_buckets, CAST(SUM(b) AS BIGINT) AS docs,
       |  CAST(MAX(b) AS BIGINT) AS max_bucket,
       |  CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM buckets GROUP BY band ORDER BY band""".stripMargin

  // --------------------------------------------------------------------------
  // q434 — SHARD-COUNT FORECAST (round 11): before writing the corpus out
  // as N hash shards, what does the token-mass balance look like for
  // N ∈ {64, 256, 1024}? Per N: non-empty shards, the hottest and coldest
  // shard, and hot_ppm = max·N/total (1e6 = perfectly balanced; 2e6 = the
  // straggler shard carries 2× its fair share — the tail task that gates
  // every downstream full scan). Doc-count balance is guaranteed by the
  // hash; TOKEN-mass balance is not (doc lengths are skewed), and token
  // mass is what a trainer streams. The same 48-bit md5 key convention as
  // q384's ring (portable to the oracle, unlike xxhash64).
  //
  // Scale: one row-local hash per doc × 3 shard counts, a (N, shard) hash
  // aggregate bounded at 64+256+1024 groups, and a 3-group rollup —
  // corpus-size-independent output.
  def q434ShardCountForecast(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(size(TextOps.toks).cast("long").as("ntok"),
        expr("cast(conv(substring(md5(concat('shard:', cast(doc_id as string))), 1, 13), 16, 10) as bigint)")
          .as("hk"))
      .select(col("ntok"), col("hk"),
        explode(expr("array(64L, 256L, 1024L)")).as("n_shards"))
      .groupBy(col("n_shards"), expr("hk % n_shards").as("shard"))
      .agg(sum(col("ntok")).as("tok"))
      .groupBy(col("n_shards"))
      .agg(count(lit(1)).as("nonempty_shards"), sum(col("tok")).as("tokens_total"),
        max(col("tok")).as("max_shard_tok"), min(col("tok")).as("min_shard_tok"))
      .withColumn("hot_ppm",
        // the ppm product runs in DECIMAL(38,0) (q421 discipline): at
        // n_shards=1024 the BIGINT form overflows past ~9e12 total
        // tokens — well under the sweep scales this audit targets —
        // and ANSI arithmetic aborts instead of returning the table
        when(col("tokens_total") === 0, lit(1000000L))
          .otherwise(expr(
            """cast((cast(max_shard_tok as decimal(38,0)) * n_shards
              | * 1000000L) div tokens_total as bigint)""".stripMargin)))
      .orderBy(col("n_shards"))

  val q434Sql: String =
    s"""WITH d AS (
       |  SELECT CAST(len(${TextOps.toksSqlD}) AS BIGINT) AS ntok,
       |    CAST(('0x' || substring(md5('shard:' || doc_id::VARCHAR), 1, 13))
       |      AS BIGINT) AS hk
       |  FROM documents),
       |e AS (
       |  SELECT ntok, hk % n_shards AS shard, n_shards
       |  FROM d CROSS JOIN (SELECT UNNEST([64, 256, 1024]) AS n_shards)),
       |g AS (
       |  SELECT n_shards, shard, SUM(ntok) AS tok FROM e GROUP BY 1, 2)
       |SELECT CAST(n_shards AS BIGINT) AS n_shards,
       |  COUNT(*) AS nonempty_shards,
       |  CAST(SUM(tok) AS BIGINT) AS tokens_total,
       |  CAST(MAX(tok) AS BIGINT) AS max_shard_tok,
       |  CAST(MIN(tok) AS BIGINT) AS min_shard_tok,
       |  CAST(CASE WHEN SUM(tok) = 0 THEN 1000000
       |    ELSE (MAX(tok)::HUGEINT * n_shards * 1000000) // SUM(tok)
       |    END AS BIGINT) AS hot_ppm
       |FROM g GROUP BY n_shards ORDER BY n_shards""".stripMargin

  // --------------------------------------------------------------------------
  // q436 — MINHASH SIGNATURE-WIDTH AUDIT (round 11): how wrong is a
  // k-hash MinHash Jaccard estimate on THIS corpus's real near-dup pairs,
  // for k ∈ {4, 8, 16}? Computes the exact (capped) pair Jaccard and the
  // k-prefix signature agreement rate side by side and reports per k the
  // mean absolute error plus its over/under decomposition, in ppm. The
  // empirical companion to q273's analytic band curve and q428's bucket
  // census: σ ≈ √(J(1−J)/k) says k=4 is ±25% at J=0.5 — this measures it,
  // and prices the signature width (storage + shuffle bytes scale with k)
  // before a 100 TB sweep commits to one.
  //
  // Scale: one shingle explode × 16 row-local md5s, a (doc, i) min
  // aggregate, a 16-column per-doc pivot, two slim joins onto the capped
  // pair set (bounded by the pair pipeline's guard), a 3-group rollup.
  def q436MinhashWidthAudit(spark: SparkSession, dir: String): DataFrame = {
    val idx = spark.range(1).select(
      explode(expr("array" + (0 until 16).mkString("(", ", ", ")"))).as("i"))
    val mins = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.shingles(3)).as("s"))
      .crossJoin(broadcast(idx))
      // 60-bit digest prefix as BIGINT before the MIN (the q32 fix,
      // promoted here by the PlanLint SortAggregate rule): a STRING min
      // buffer is not UnsafeRow-mutable and silently demotes this
      // raw-stream aggregate to a per-partition SORT of 16× the shingle
      // stream. The hex prefix is fixed-length, so the conversion is
      // order-preserving; downstream only tests EQUALITY of the mins,
      // and the oracle applies the identical conversion.
      .select(col("doc_id"), col("i"),
        expr("cast(conv(substring(md5(concat(s, '#', cast(i as string))), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .groupBy(col("doc_id"), col("i")).agg(min(col("h")).as("m"))
    val minCols = (0 until 16).map(i =>
      max(when(col("i") === i, col("m"))).as(s"m$i"))
    val sig = mins.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
    val sigA = sig.toDF(sig.columns.map(c => if (c == "doc_id") "id_a" else s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c => if (c == "doc_id") "id_b" else s"b_$c"): _*)
    def matches(k: Int): String =
      (0 until k).map(i => s"if(a_m$i = b_m$i, 1L, 0L)").mkString(" + ")
    val paired = graft.ops.TextOps.q31NgramJaccard(spark, dir)
      .select(col("id_a"), col("id_b"),
        // exact half-up ppm (floor(x·1e6+0.5)) — same form as the oracle's
        // FLOOR(...*1000000+0.5); ROUND-of-double is lint-banned (§8.4)
        graft.ops.Num.pround(col("jaccard") * 1000000, 0).cast("long")
          .as("exact_ppm"))
      .join(sigA, "id_a").join(sigB, "id_b")
      .select(col("exact_ppm"),
        explode(array(
          struct(lit(4L).as("k"), expr(matches(4)).as("c")),
          struct(lit(8L).as("k"), expr(matches(8)).as("c")),
          struct(lit(16L).as("k"), expr(matches(16)).as("c")))).as("e"))
      .select(col("exact_ppm"), col("e.k").as("k"),
        expr("(1000000L * e.c) div e.k").as("est_ppm"))
    paired.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("abs(est_ppm - exact_ppm)")).as("sae"),
        sum(expr("greatest(est_ppm - exact_ppm, 0L)")).as("sover"),
        sum(expr("greatest(exact_ppm - est_ppm, 0L)")).as("sunder"))
      .select(col("k"), col("n_pairs"),
        expr("sae div n_pairs").as("mae_ppm"),
        expr("sover div n_pairs").as("over_ppm"),
        expr("sunder div n_pairs").as("under_ppm"))
      .orderBy(col("k"))
  }

  val q436Sql: String = {
    val prefix = graft.ops.TextOps.q82Sql.substring(
      0, graft.ops.TextOps.q82Sql.indexOf("edges AS"))
    prefix +
      s"""midx AS (
         |  SELECT doc_id, i,
         |    MIN(('0x' || substr(md5(s || '#' || i), 1, 15))::BIGINT) AS m
         |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, 16)) AS i)
         |  GROUP BY 1, 2),
         |pm AS (
         |  SELECT p.id_a, p.id_b,
         |    SUM(CASE WHEN a.m = b.m AND a.i < 4 THEN 1 ELSE 0 END) AS c4,
         |    SUM(CASE WHEN a.m = b.m AND a.i < 8 THEN 1 ELSE 0 END) AS c8,
         |    SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS c16
         |  FROM pairs p
         |  JOIN midx a ON a.doc_id = p.id_a
         |  JOIN midx b ON b.doc_id = p.id_b AND b.i = a.i
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT id_a, id_b,
         |    CAST(FLOOR(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)
         |      * 1000000 + 0.5) AS BIGINT) AS exact_ppm
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
         |er AS (
         |  SELECT 4 AS k, (1000000 * c4) // 4 AS est_ppm, exact_ppm
         |  FROM pm JOIN ex USING (id_a, id_b)
         |  UNION ALL
         |  SELECT 8, (1000000 * c8) // 8, exact_ppm
         |  FROM pm JOIN ex USING (id_a, id_b)
         |  UNION ALL
         |  SELECT 16, (1000000 * c16) // 16, exact_ppm
         |  FROM pm JOIN ex USING (id_a, id_b))
         |SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n_pairs,
         |  CAST(SUM(ABS(est_ppm - exact_ppm)) // COUNT(*) AS BIGINT) AS mae_ppm,
         |  CAST(SUM(GREATEST(est_ppm - exact_ppm, 0)) // COUNT(*) AS BIGINT)
         |    AS over_ppm,
         |  CAST(SUM(GREATEST(exact_ppm - est_ppm, 0)) // COUNT(*) AS BIGINT)
         |    AS under_ppm
         |FROM er GROUP BY k ORDER BY k""".stripMargin
  }

  private val catalogR11: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q428_lsh_bucket_forecast", q428LshBucketForecast _, Some(q428Sql)),
    ("q434_shard_count_forecast", q434ShardCountForecast _, Some(q434Sql)),
    ("q436_minhash_width_audit", q436MinhashWidthAudit _, Some(q436Sql)))

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    catalogAi ++ catalogAl ++ catalogAm ++ catalogAo ++ catalogAp ++ catalogAr ++ catalogAt ++ catalogAv ++ catalogAw ++ catalogAx ++ catalogZ ++ catalogR8 ++ catalogR11
}
