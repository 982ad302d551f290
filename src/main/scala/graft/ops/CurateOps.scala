package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 curation/analytics operators — [EXT] north-star surface:
  * perceptual-hash media dedup, association rules, robust scaling on exact
  * bounded-domain quantiles, zone-map file skipping, time-decay profiles,
  * l-diversity, the end-to-end pretraining curation funnel, and Zipf-law
  * corpus diagnostics.
  *
  * Numeric policy per ops/Relational.scala header: exact integer/decimal
  * arithmetic everywhere order matters; doubles only in per-row ops or
  * fixed-order folds; FLOOR((…) * 1e6 + 0.5) / 1e6 before hashing.
  */
object CurateOps {

  // --------------------------------------------------------------------------
  // q197 — PERCEPTUAL-HASH image near-dup (aHash): decode each PNG once,
  // downsample to an 8×8 grid (nearest-neighbor — integer source indices),
  // hash bit k = sample_k·64 > Σsamples (strict, all-integer — no float
  // mean), giving a 64-bit signature split into 4×16-bit bands. Near-dups
  // are pairs at Hamming distance ≤ 3: by pigeonhole, distance < 4 bands
  // forces at least one band to match EXACTLY, so the banded equi-join has
  // guaranteed 100% recall — the LSH candidate set provably contains every
  // true pair, and the in-join bit_count check removes false positives.
  //
  // Scale: ONE decode pass per side (mapPartitions — codec init once per
  // partition, the Multimodal rule), then a 4-way banded equi-join on
  // (band_idx, band_value) — never all-pairs; candidates carry 4 shorts
  // per side, not payloads. The oracle replays the same pixel math from
  // `text` (pixel i = text byte i mod len — the mediaTable contract) and
  // can use a plain all-pairs join because the ≤3 threshold makes the
  // banded and exhaustive results provably identical.
  private[ops] def pHashBands(media: Dataset[Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h) = Multimodal.pngDims(r.media)
        val px = Multimodal.pngPixels(r.media)
        val samp = Array.tabulate(64) { k =>
          val sy = (k / 8) * h / 8
          val sx = (k % 8) * w / 8
          if (px.isEmpty) 0L else (px(sy * w + sx) & 0xff).toLong
        }
        val tot = samp.sum
        def band(b: Int): Long = {
          var v = 0L
          var j = 0
          while (j < 16) {
            if (samp(b * 16 + j) * 64 > tot) v |= (1L << j)
            j += 1
          }
          v
        }
        (r.doc_id, band(0), band(1), band(2), band(3))
      }
    }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  def q197PhashDedup(spark: SparkSession, dir: String): DataFrame =
    // materialize the signature table (doc_id + 4 shorts) before the
    // self-join: without it both join sides re-decode every PNG — at scale
    // the persisted signature table IS the artifact this operator builds
    phashPairs(pHashBands(Multimodal.mediaTable(spark, dir)).localCheckpoint(),
      maxHamming = 3)

  /** (doc_id, b0..b3) → near-dup pairs at Hamming ≤ maxHamming. Banded
    * equi-join is exact (zero recall loss) for maxHamming < 4.
    */
  def phashPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "pigeonhole guarantee needs maxHamming < #bands")
    def side(p: String): DataFrame =
      hashes.select(
        col("doc_id").as(s"${p}id"), col("b0").as(s"${p}0"), col("b1").as(s"${p}1"),
        col("b2").as(s"${p}2"), col("b3").as(s"${p}3"))
        .select(col(s"${p}id"), col(s"${p}0"), col(s"${p}1"), col(s"${p}2"), col(s"${p}3"),
          explode(expr(
            s"array(named_struct('bi', 0, 'bv', ${p}0), named_struct('bi', 1, 'bv', ${p}1), " +
              s"named_struct('bi', 2, 'bv', ${p}2), named_struct('bi', 3, 'bv', ${p}3))")).as("e"))
        .select(col(s"${p}id"), col(s"${p}0"), col(s"${p}1"), col(s"${p}2"), col(s"${p}3"),
          col("e.bi").as(s"${p}bi"), col("e.bv").as(s"${p}bv"))
    side("a").join(side("b"),
        col("abi") === col("bbi") && col("abv") === col("bbv") && col("aid") < col("bid"))
      .select(col("aid").as("doc_a"), col("bid").as("doc_b"),
        col("a0"), col("a1"), col("a2"), col("a3"),
        col("b0"), col("b1"), col("b2"), col("b3"))
      .distinct() // a pair matching in >1 band appears once
      .withColumn("hamming", expr(
        "cast(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
          "bit_count(a2 ^ b2) + bit_count(a3 ^ b3) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q197Sql: String =
    """WITH d AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS plen,
      |    CAST(n_chars % 64 + 1 AS BIGINT) AS w, CAST(n_chars % 48 + 1 AS BIGINT) AS h
      |  FROM documents),
      |samp AS (
      |  SELECT doc_id, k,
      |    CASE WHEN plen = 0 THEN 0
      |      ELSE ('0x' || substr(hx,
      |        2 * CAST((((k // 8) * h // 8) * w + ((k % 8) * w // 8)) % plen AS BIGINT) + 1,
      |        2))::BIGINT
      |    END AS v
      |  FROM d, LATERAL (SELECT unnest(range(64)) AS k) g),
      |tot AS (SELECT doc_id, SUM(v) AS t FROM samp GROUP BY doc_id),
      |bands AS (
      |  SELECT s.doc_id, CAST(k // 16 AS INT) AS b,
      |    CAST(SUM(CASE WHEN s.v * 64 > t.t
      |                  THEN (1::BIGINT << CAST(k % 16 AS INT)) ELSE 0 END) AS BIGINT) AS bv
      |  FROM samp s JOIN tot t USING (doc_id) GROUP BY s.doc_id, k // 16),
      |hashes AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN b=0 THEN bv END) AS b0, MAX(CASE WHEN b=1 THEN bv END) AS b1,
      |    MAX(CASE WHEN b=2 THEN bv END) AS b2, MAX(CASE WHEN b=3 THEN bv END) AS b3
      |  FROM bands GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.b0,b.b0)) + bit_count(xor(a.b1,b.b1))
      |     + bit_count(xor(a.b2,b.b2)) + bit_count(xor(a.b3,b.b3)) AS INT) AS hamming
      |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.b0,b.b0)) + bit_count(xor(a.b1,b.b1))
      |    + bit_count(xor(a.b2,b.b2)) + bit_count(xor(a.b3,b.b3)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------------------
  // q198 — MARKET-BASKET association rules: for part pairs co-ordered at
  // least twice, support / confidence / lift — the co-occurrence mining
  // every recommender / "data products bought together" report runs.
  //
  // Scale: pair fan-out is a SELF-JOIN ON THE ORDER KEY (co-partitioned,
  // one shuffle) bounded by basket size (TPC-H ≤ 7 items/order — fan-out
  // is O(rows·basket), never O(parts²)); per-item counts are a
  // dimension-sized table BROADCAST onto the pair aggregate; the order
  // total is a broadcast 1-row aggregate. Counts are exact longs; the
  // three ratios are per-row double divisions (deterministic), ROUND 6.
  def q198MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    // per-order sorted item sets replace the old distinct + basket
    // SELF-JOIN (q288/q317's rewrite, the coOrderedPairCounts shape):
    // baskets are bounded by the order contract (TPC-H ≤ 7 items), so the
    // pair fan-out is a row-local nested transform and the basket frame —
    // lazily checkpointed — feeds the order total, the item counts AND the
    // pair expansion from ONE exchange instead of four passes + a join.
    // sort_array makes p1 < p2 by construction; collect_set ≡ the old
    // per-(order, part) distinct. The explicit-width exchange spreads the
    // single-split scan across the session (q32's rule).
    val width = spark.sparkContext.defaultParallelism
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .repartition(width, col("ok"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("p"))).as("ps"))
      .localCheckpoint(false)
    val nOrd = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCnt = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    baskets.select(explode(expr(
        """flatten(transform(ps, (x, k) ->
          |  transform(slice(ps, k + 2, size(ps)), y ->
          |    named_struct('p1', x, 'p2', y))))""".stripMargin)).as("e"))
      .groupBy(col("e.p1").as("p1"), col("e.p2").as("p2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 2)
      .join(broadcast(itemCnt.select(col("l_partkey").as("p1"), col("c").as("c1"))), Seq("p1"))
      .join(broadcast(itemCnt.select(col("l_partkey").as("p2"), col("c").as("c2"))), Seq("p2"))
      .crossJoin(broadcast(nOrd))
      .select(col("p1"), col("p2"), col("c12"),
        Num.pround(col("c12") / col("n_orders"), 6).as("support"),
        Num.pround(col("c12") / col("c1"), 6).as("confidence"),
        Num.pround(col("n_orders").cast("double") * col("c12")
          / (col("c1").cast("double") * col("c2")), 6).as("lift"))
      .orderBy(col("p1"), col("p2"))
  }

  val q198Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
      |ic AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY 1),
      |p AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS c12
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT p1, p2, c12,
      |  FLOOR((c12 / n_orders) * 1e6 + 0.5) / 1e6 AS support,
      |  FLOOR((c12 / i1.c) * 1e6 + 0.5) / 1e6 AS confidence,
      |  FLOOR((n_orders::DOUBLE * c12 / (i1.c::DOUBLE * i2.c)) * 1e6 + 0.5) / 1e6 AS lift
      |FROM p, n
      |JOIN ic i1 ON p.p1 = i1.l_partkey
      |JOIN ic i2 ON p.p2 = i2.l_partkey
      |ORDER BY p1, p2""".stripMargin

  // --------------------------------------------------------------------------
  // q199 — ROBUST SCALING (median/IQR) on EXACT bounded-domain quantiles:
  // per-segment robust z-score of account balances. The naive exact
  // quantile sorts every group's values through few tasks; this plan
  // exploits the BOUNDED VALUE DOMAIN (cents in ±1e6): one hash groupBy to
  // the (segment, cents) VALUE HISTOGRAM, a cumulative count over that
  // bounded grid (window partitioned BY SEGMENT), then each quartile reads
  // two histogram rows by rank — the classic exact-quantile-via-histogram
  // shape that stays exact at any row count.
  //
  // Determinism: cents are exact longs; (n-1)·q is exact for dyadic q
  // (.25/.5/.75); interpolation lo + frac·(hi−lo) is exact dyadic-scaled
  // integer arithmetic ≤ 2^53 — bit-identical to DuckDB quantile_cont over
  // the same cents (regardless of which algebraically-equal interpolation
  // form the engine uses). The per-row z division is IEEE-deterministic.
  def q199RobustScale(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_mktsegment").as("seg"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val hist = cust.groupBy(col("seg"), col("cents")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("seg")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("seg"))))
    def vAt(idx: org.apache.spark.sql.Column) =
      min(when(col("cum") > idx, col("cents")))
    def loIdx(q: Double) = floor((col("n") - 1).cast("double") * lit(q)).cast("long")
    def hiIdx(q: Double) = ceil((col("n") - 1).cast("double") * lit(q)).cast("long")
    val quart = hist.groupBy(col("seg")).agg(
      max(col("n")).as("n"),
      vAt(loIdx(0.25)).as("lo25"), vAt(hiIdx(0.25)).as("hi25"),
      vAt(loIdx(0.50)).as("lo50"), vAt(hiIdx(0.50)).as("hi50"),
      vAt(loIdx(0.75)).as("lo75"), vAt(hiIdx(0.75)).as("hi75"))
    def interp(q: Double, lo: String, hi: String) = {
      val hq = (col("n") - 1).cast("double") * lit(q)
      val frac = hq - floor(hq).cast("double")
      (col(lo).cast("double") + frac * (col(hi).cast("double") - col(lo).cast("double"))) / 100.0
    }
    val p = quart.select(col("seg"),
      interp(0.25, "lo25", "hi25").as("p25"),
      interp(0.50, "lo50", "hi50").as("p50"),
      interp(0.75, "lo75", "hi75").as("p75"))
    cust.join(broadcast(p), Seq("seg"))
      .select(col("c_custkey"), col("seg").as("c_mktsegment"),
        // zero-IQR guard: on a degenerate segment (all balances equal)
        // Spark's Divide yields NULL but DuckDB's IEEE division yields
        // ±inf/nan — both engines must agree on NULL
        when(col("p75") =!= col("p25"),
          Num.pround((col("cents") / 100.0 - col("p50")) / (col("p75") - col("p25")), 6))
          .as("robust_z"))
      .orderBy(col("c_custkey"))
  }

  val q199Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |q AS (
      |  SELECT seg, quantile_cont(cents, 0.25) AS p25c,
      |    quantile_cont(cents, 0.5) AS p50c, quantile_cont(cents, 0.75) AS p75c
      |  FROM c GROUP BY seg)
      |SELECT c_custkey, seg AS c_mktsegment,
      |  CASE WHEN p75c <> p25c THEN
      |    FLOOR(((cents / 100.0 - p50c / 100.0) / (p75c / 100.0 - p25c / 100.0)) * 1e6 + 0.5) / 1e6
      |  END AS robust_z
      |FROM c JOIN q USING (seg) ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------------
  // q200 — ZONE-MAP file skipping audit: build the min/max manifest a
  // data-skipping layout (Delta/Iceberg stats, parquet row-group pruning)
  // keeps per file — here per key-range "file" of the orders table — and
  // report, for a set of date predicates, how many files a scan could skip
  // and how many rows it must still read. The capacity-planning twin of
  // q177's compaction planner: q177 decides the layout, this measures what
  // the layout buys.
  //
  // Scale: the manifest is one hash groupBy (|files| rows — thousands per
  // PB, not billions); the predicate grid is a bounded literal broadcast;
  // the audit never touches row-level data again.
  def q200ZoneMapPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = Tables.orders(spark, dir)
      .groupBy(expr("o_orderkey div 1024").as("file_id"))
      .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"),
        count(lit(1)).as("n"))
    val preds = Seq(
      (1, "1994-01-01", "1994-06-30"),
      (2, "1995-01-01", "1995-12-31"),
      (3, "1993-07-01", "1993-09-30"),
      (4, "1998-06-01", "1998-12-31"))
      .toDF("pred_id", "lo_s", "hi_s")
      .select(col("pred_id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    val skip = col("mx") < col("lo") || col("mn") > col("hi")
    files.crossJoin(broadcast(preds)) // bounded literal grid
      .groupBy(col("pred_id"))
      .agg(count(lit(1)).as("n_files"),
        count_if(skip).as("n_files_skipped"),
        count_if(!skip).as("n_files_scanned"),
        coalesce(sum(when(!skip, col("n"))), lit(0L)).as("rows_scanned"))
      .orderBy(col("pred_id"))
  }

  val q200Sql: String =
    """WITH f AS (
      |  SELECT o_orderkey // 1024 AS file_id, MIN(o_orderdate) AS mn,
      |    MAX(o_orderdate) AS mx, COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |p(pred_id, lo, hi) AS (VALUES
      |  (1, DATE '1994-01-01', DATE '1994-06-30'),
      |  (2, DATE '1995-01-01', DATE '1995-12-31'),
      |  (3, DATE '1993-07-01', DATE '1993-09-30'),
      |  (4, DATE '1998-06-01', DATE '1998-12-31'))
      |SELECT pred_id, COUNT(*) AS n_files,
      |  COUNT(*) FILTER (mx < lo OR mn > hi) AS n_files_skipped,
      |  COUNT(*) FILTER (NOT (mx < lo OR mn > hi)) AS n_files_scanned,
      |  CAST(COALESCE(SUM(n) FILTER (NOT (mx < lo OR mn > hi)), 0) AS BIGINT)
      |    AS rows_scanned
      |FROM f, p GROUP BY pred_id ORDER BY pred_id""".stripMargin

  // --------------------------------------------------------------------------
  // q201 — TIME-DECAY user profile: per user, half-life-weighted spend
  // Σ value·2^(−weeks_ago) — the recency-weighted feature every
  // engagement/LTV model starts from. Exactness trick: weights are
  // POWERS OF TWO (half-life = 7 days, integer week buckets), so
  // v/2^k is an EXACT double scaling, and the per-user fold runs in
  // fixed k order — no engine-dependent float summation anywhere:
  // per-(user, week) sums ride DECIMAL cents, the ≤63-term decay fold is
  // order-pinned by sort_array.
  //
  // Scale: one shuffle to the (user, week) grid with map-side partial
  // decimal sums, one shuffle to the user — the bounded per-user week
  // array (horizon-capped at 62) replaces a window. The anchor date is a
  // broadcast 1-row aggregate.
  def q201DecayProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val anchor = ev.agg(max(to_date(col("ts"))).as("tmax"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("k", least(expr("datediff(tmax, to_date(ts)) div 7"), lit(62L)).cast("int"))
      .groupBy(col("user_id"), col("k"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("k"), col("v")))).as("arr"))
      .select(col("user_id"),
        Num.pround(expr("aggregate(arr, cast(0 as double), " +
          "(acc, e) -> acc + e.v / cast(shiftleft(cast(1 as bigint), e.k) as double))"), 6)
          .as("decayed_spend"))
      .orderBy(col("user_id"))
  }

  val q201Sql: String =
    """WITH t AS (SELECT MAX(CAST(ts AS DATE)) AS tmax FROM events),
      |wk AS (
      |  SELECT user_id,
      |    CAST(LEAST(date_diff('day', CAST(ts AS DATE), tmax) // 7, 62) AS INT) AS k,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events, t GROUP BY 1, 2)
      |SELECT user_id,
      |  FLOOR((list_reduce(
      |    list_prepend(0.0, list(v / (1::BIGINT << k)::DOUBLE ORDER BY k)),
      |    (a, b) -> a + b)) * 1e6 + 0.5) / 1e6 AS decayed_spend
      |FROM wk GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------------
  // q202 — L-DIVERSITY audit: k-anonymity (q180) asks "is every
  // quasi-identifier group big enough?"; l-diversity asks the stronger
  // question "does every QI group carry enough DISTINCT sensitive values
  // that membership reveals nothing?" — here QI = (nation, balance band)
  // on customers, sensitive = the order priorities of their orders.
  //
  // Scale: fact-dim join shuffles on the customer key (both sides
  // co-partitioned — the dim is NOT broadcast because at 100 TB the
  // customer table is fact-sized); then two-level hash aggregation:
  // (QI, sensitive) partial counts → per-QI distinct count. No windows.
  def q202LDiversity(spark: SparkSession, dir: String): DataFrame = {
    val qi = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_nationkey"),
      floor((col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
        / 100000.0).cast("long").as("bal_band"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority"))
      .join(qi, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("bal_band"), col("o_orderpriority"))
      .agg(count(lit(1)).as("nrow"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("nrow")).as("n_rows"), count(lit(1)).as("l"))
      .withColumn("diverse", col("l") >= 3)
      .orderBy(col("c_nationkey"), col("bal_band"))
  }

  val q202Sql: String =
    """WITH g AS (
      |  SELECT c_nationkey,
      |    CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      / 100000.0) AS BIGINT) AS bal_band,
      |    o_orderpriority, COUNT(*) AS nrow
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT c_nationkey, bal_band, CAST(SUM(nrow) AS BIGINT) AS n_rows,
      |  COUNT(*) AS l, COUNT(*) >= 3 AS diverse
      |FROM g GROUP BY 1, 2 ORDER BY c_nationkey, bal_band""".stripMargin

  // --------------------------------------------------------------------------
  // q203 — PRETRAINING CURATION FUNNEL: the end-to-end document filter
  // chain — length screen → lexical-diversity screen → stopword-signal
  // screen → exact dedup (first occurrence among survivors) →
  // eval-set decontamination — with per-stage in/out counts, i.e. the
  // yield report every corpus curation run ships. Composes the catalog's
  // individual operators (q35/q30/q106 families) into ONE lazy plan.
  //
  // Scale: stages 1–3 are row-local flags in a single scan; dedup is a
  // min-over-md5 window (PARTITIONED by the hash — survivor selection
  // among stage-3 passers via a conditional window min); decontamination
  // re-uses q106's broadcast eval-gram join (eval sets are fixed-size).
  // One gram-side shuffle on doc_id, one window shuffle on md5 — the
  // funnel never rescans the corpus per stage.
  def q203CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(spark, dir)
    val train = all.filter(col("doc_id") % 50 =!= 0)
      .withColumn("toks", TextOps.toks)
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("n", size(col("toks")))
      // 0-token docs: diversity is 0 by convention (they fail the length
      // screen anyway) — the bare ratio would be an ANSI divide-by-zero
      .withColumn("dr", when(col("n") === 0, lit(0.0))
        .otherwise(size(array_distinct(col("toks"))).cast("double") / col("n")))
      .withColumn("sw", size(expr("filter(toks, x -> x = 'the' or x = 'a')")))
    // eval grams from the held-out slice of the FULL corpus (q106 contract);
    // the native WordShingles expression guards docs shorter than the gram
    val grams = all.select(col("doc_id"),
      explode(TextOps.shingles(4)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 50 === 0)
      .select(col("g")).distinct().withColumn("hit", lit(1))
    val hits = grams.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id")).agg(count(col("hit")).as("n_hit"))
    val flagged = train.join(hits, Seq("doc_id"), "left")
      .withColumn("s1", col("n").between(15, 80))
      .withColumn("s2", col("s1") && col("dr") >= 0.45)
      .withColumn("s3", col("s2") && col("sw") >= 2)
      .withColumn("first_surv",
        min(when(col("s3"), col("doc_id"))).over(Window.partitionBy(col("h"))))
      .withColumn("s4", col("s3") && col("doc_id") === col("first_surv"))
      .withColumn("s5", col("s4") && coalesce(col("n_hit"), lit(0L)) === 0)
    flagged.agg(
      count(lit(1)).as("n0"), count_if(col("s1")).as("n1"),
      count_if(col("s2")).as("n2"), count_if(col("s3")).as("n3"),
      count_if(col("s4")).as("n4"), count_if(col("s5")).as("n5"))
      .select(expr(
        "stack(5, " +
          "1, 'length', n0, n1, " +
          "2, 'diversity', n1, n2, " +
          "3, 'stopwords', n2, n3, " +
          "4, 'exact_dedup', n3, n4, " +
          "5, 'decontaminate', n4, n5) as (stage, stage_name, docs_in, docs_out)"))
  }

  val q203Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(text) AS h, ${TextOps.toksSqlD} AS toks
       |  FROM documents WHERE doc_id % 50 <> 0),
       |sh AS (
       |  SELECT DISTINCT doc_id, t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3] AS g
       |  FROM (SELECT doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 3)) AS u(i)),
       |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
       |hits AS (
       |  SELECT sh.doc_id, COUNT(ev.g) AS n_hit
       |  FROM sh LEFT JOIN ev USING (g) WHERE sh.doc_id % 50 <> 0
       |  GROUP BY sh.doc_id),
       |f AS (
       |  SELECT t.doc_id, h, len(toks) AS n,
       |    len(list_distinct(toks))::DOUBLE / len(toks) AS dr,
       |    len(list_filter(toks, x -> x IN ('the', 'a'))) AS sw,
       |    COALESCE(n_hit, 0) AS n_hit
       |  FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id),
       |s AS (
       |  SELECT doc_id, h, n_hit,
       |    (n BETWEEN 15 AND 80) AS s1,
       |    (n BETWEEN 15 AND 80) AND dr >= 0.45 AS s2,
       |    (n BETWEEN 15 AND 80) AND dr >= 0.45 AND sw >= 2 AS s3
       |  FROM f),
       |s2 AS (
       |  SELECT *, s3 AND doc_id = MIN(CASE WHEN s3 THEN doc_id END)
       |    OVER (PARTITION BY h) AS s4
       |  FROM s),
       |s3t AS (SELECT *, s4 AND n_hit = 0 AS s5 FROM s2),
       |agg AS (
       |  SELECT COUNT(*) AS n0, COUNT(*) FILTER (s1) AS n1,
       |    COUNT(*) FILTER (s2) AS n2, COUNT(*) FILTER (s3) AS n3,
       |    COUNT(*) FILTER (s4) AS n4, COUNT(*) FILTER (s5) AS n5
       |  FROM s3t)
       |SELECT CAST(1 AS INT) AS stage, 'length' AS stage_name, n0 AS docs_in, n1 AS docs_out FROM agg
       |UNION ALL SELECT CAST(2 AS INT), 'diversity', n1, n2 FROM agg
       |UNION ALL SELECT CAST(3 AS INT), 'stopwords', n2, n3 FROM agg
       |UNION ALL SELECT CAST(4 AS INT), 'exact_dedup', n3, n4 FROM agg
       |UNION ALL SELECT CAST(5 AS INT), 'decontaminate', n4, n5 FROM agg
       |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------------------
  // q204 — ZIPF-LAW fit: log-log OLS of frequency vs rank over the top-K
  // tokens — the corpus-statistics diagnostic behind tokenizer sizing and
  // vocabulary-truncation decisions (a healthy natural corpus fits slope
  // ≈ −1; synthetic/templated corpora flatten).
  //
  // Scale: the frequency table is one shuffle; the top-K cut is
  // orderBy+limit → TakeOrderedAndProject (per-partition heaps, K rows to
  // the driver-side merge — q107's rule, never a global rank window); the
  // rank window then runs over the ALREADY-BOUNDED K rows. The OLS sums
  // run as a FIXED-ORDER fold over the rank-sorted point array (both
  // engines fold rank-ascending on ln values pre-rounded to 1e-6), so the
  // regression is deterministic cross-engine.
  def q204ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(TextOps.toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w")).limit(30)
    top
      .withColumn("rank", row_number().over(Window.orderBy(col("f").desc, col("w"))))
      .select(Num.pround(log(col("rank")), 6).as("x"), Num.pround(log(col("f")), 6).as("y"),
        col("rank"))
      .agg(sort_array(collect_list(struct(col("rank"), col("x"), col("y")))).as("pts"),
        count(lit(1)).cast("double").as("k"))
      .select(col("k"), expr(
        "aggregate(pts, array(cast(0 as double), cast(0 as double), " +
          "cast(0 as double), cast(0 as double)), " +
          "(acc, e) -> array(acc[0] + e.x, acc[1] + e.y, " +
          "acc[2] + e.x * e.y, acc[3] + e.x * e.x))").as("s"))
      // single-point guard: with k=1 the OLS denominator k·Σx²−(Σx)² is 0
      // (Spark Divide → NULL, DuckDB → nan); both engines pin to NULL
      .withColumn("den", col("k") * col("s")(3) - col("s")(0) * col("s")(0))
      .select(col("k").cast("int").as("n_points"),
        when(col("den") =!= 0,
          Num.pround((col("k") * col("s")(2) - col("s")(0) * col("s")(1))
            / col("den"), 6)).as("slope"),
        when(col("den") =!= 0,
          Num.pround((col("s")(1) - (col("k") * col("s")(2) - col("s")(0) * col("s")(1))
            / col("den") * col("s")(0)) / col("k"), 6)).as("intercept"))
  }

  val q204Sql: String =
    s"""WITH freq AS (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT unnest(${TextOps.toksSqlD}) AS w FROM documents)
       |  GROUP BY w ORDER BY f DESC, w LIMIT 30),
       |r AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rank,
       |    FLOOR((ln(ROW_NUMBER() OVER (ORDER BY f DESC, w))) * 1e6 + 0.5) / 1e6 AS x,
       |    FLOOR((ln(f)) * 1e6 + 0.5) / 1e6 AS y
       |  FROM freq),
       |acc AS (
       |  SELECT COUNT(*)::DOUBLE AS k,
       |    list_reduce(
       |      list_prepend([0.0, 0.0, 0.0, 0.0], list([x, y] ORDER BY rank)),
       |      (a, e) -> [a[1] + e[1], a[2] + e[2],
       |                 a[3] + e[1] * e[2], a[4] + e[1] * e[1]]) AS s
       |  FROM r)
       |SELECT CAST(k AS INT) AS n_points,
       |  CASE WHEN k * s[4] - s[1] * s[1] <> 0 THEN
       |    FLOOR(((k * s[3] - s[1] * s[2]) / (k * s[4] - s[1] * s[1])) * 1e6 + 0.5) / 1e6 END AS slope,
       |  CASE WHEN k * s[4] - s[1] * s[1] <> 0 THEN
       |    FLOOR(((s[2] - (k * s[3] - s[1] * s[2]) / (k * s[4] - s[1] * s[1]) * s[1]) / k) * 1e6 + 0.5) / 1e6
       |  END AS intercept
       |FROM acc""".stripMargin

  // --------------------------------------------------------------------------
  // q206 — TRIANGLE COUNT on the co-purchase graph (edges = part pairs
  // co-ordered ≥ 2 times, q198's support floor): total triangles plus the
  // global clustering coefficient 3T / #wedges — the graph-cohesion
  // diagnostic for recommendation/link data.
  //
  // Scale: the scalable algorithm — ORIENT each edge from the
  // lower-(degree, id) endpoint to the higher, so every triangle is
  // counted exactly once and the path-join fan-out is bounded by the
  // oriented out-degree (O(m^1.5) total work — Schank/Wagner), never the
  // raw degree of hub nodes. Wedge counts come from the degree table
  // (Σ d·(d−1)/2 — exact longs). The oracle counts unordered triangles
  // directly (p1<p2<p3 closed triples) — provably the same total.
  def q206TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderedPairCounts(Tables.lineitem(spark, dir))
      .filter(col("c12") >= 2).select(col("p1"), col("p2"))
    triangleStats(edges)
  }

  /** (p1, p2, c12) co-order pair counts over lineitem — p1 < p2, c12 =
    * number of distinct orders containing both parts. Within-basket pair
    * generation is ROW-LOCAL (baskets bounded by the order contract,
    * ≤ 7 lines), so the pairs come from a per-order sorted item set +
    * bounded nested transform — q442's cappedWedges shape — instead of
    * the basket self-join, which shuffled the basket stream twice per
    * consumer. The explicit-width exchange on the order key spreads the
    * single-split scan across the session (q32's rule) and the per-order
    * collect_set ≡ the old per-(ok, part) distinct. Shared by the
    * co-purchase graph family (q206 triangles, q343 Adamic–Adar, q317
    * Apriori's level-2 table). */
  private[graft] def coOrderedPairCounts(lineitem: DataFrame): DataFrame = {
    val width = lineitem.sparkSession.sparkContext.defaultParallelism
    lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .repartition(width, col("ok"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, k) ->
          |  transform(slice(ps, k + 2, size(ps)), y ->
          |    named_struct('p1', x, 'p2', y))))""".stripMargin)).as("e"))
      .groupBy(col("e.p1").as("p1"), col("e.p2").as("p2"))
      .agg(count(lit(1)).as("c12"))
  }

  /** Per-node degree of an undirected (p1, p2) edge list. */
  private[graft] def degreeOf(edges: DataFrame): DataFrame =
    edges.select(col("p1").as("v")).union(edges.select(col("p2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))

  /** Orient each edge from the lower-(degree, id) endpoint to the higher
    * — every triangle is counted exactly once and the path-join fan-out
    * is bounded by the oriented out-degree (≤ √(2m) on any graph), never
    * the raw degree of hub nodes. Measured on Zipf-degree graphs (SURVEY
    * §8.11): at 3.45M edges, 14.5M oriented vs 46.4B raw wedges, max
    * out-degree 57 vs max raw degree 301k.
    */
  private[graft] def orientEdges(edges: DataFrame, deg: DataFrame): DataFrame =
    edges
      .join(broadcast(deg.select(col("v").as("p1"), col("d").as("d1"))), Seq("p1"))
      .join(broadcast(deg.select(col("v").as("p2"), col("d").as("d2"))), Seq("p2"))
      .select(
        when(struct(col("d1"), col("p1")) < struct(col("d2"), col("p2")), col("p1"))
          .otherwise(col("p2")).as("lo"),
        when(struct(col("d1"), col("p1")) < struct(col("d2"), col("p2")), col("p2"))
          .otherwise(col("p1")).as("hi"))

  /** Triangle count + clustering coefficient over an undirected edge
    * list (p1, p2), p1 < p2, deduplicated (Schank/Wagner orientation —
    * O(m^1.5) total work).
    */
  private[graft] def triangleStats(edgesIn: DataFrame): DataFrame = {
    // the edge table feeds degree counts, the orientation, and the edge
    // total — materialize once; its size is |edges|, tiny next to the
    // joins that may produce it
    val edges = edgesIn.localCheckpoint()
    val deg = degreeOf(edges)
    val wedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val oriented = orientEdges(edges, deg)
    // path a→b→c implies a ≺ c (transitivity of the orientation order),
    // so the closing edge is always oriented a→c — a pure equi-join
    val paths = oriented.select(col("lo").as("a"), col("hi").as("b"))
      .join(oriented.select(col("lo").as("b"), col("hi").as("c")), Seq("b"))
    val tri = paths
      .join(oriented.select(col("lo").as("a"), col("hi").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(tri))
      .crossJoin(broadcast(wedges))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        // zero-wedge guard: an edgeless/degenerate graph has n_wedges=0
        // (Spark Divide → NULL, DuckDB → nan); both engines pin to NULL
        when(col("n_wedges") > 0,
          Num.pround(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("clustering_coeff"))
  }

  val q206Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT v, COUNT(*) AS d FROM (
      |    SELECT p1 AS v FROM e UNION ALL SELECT p2 FROM e) GROUP BY v),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1 AND e1.p1 < e2.p1
      |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT n_triangles FROM tri) AS n_triangles,
      |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0 THEN
      |    FLOOR((3.0::DOUBLE * (SELECT n_triangles FROM tri)
      |      / (SELECT SUM(d * (d - 1) // 2) FROM deg)) * 1e6 + 0.5) / 1e6
      |  END AS clustering_coeff""".stripMargin

  // --------------------------------------------------------------------------
  // q207 — WINSORIZED per-segment statistics: clamp balances at the 1/16
  // and 15/16 quantiles, then report the clamped mean/std — outlier-robust
  // feature moments. The clamp quantiles are DYADIC on purpose: with
  // integer cents and dyadic fractions, linear interpolation is exact in
  // double REGARDLESS of which algebraically-equal form an engine uses
  // (lo+f·(hi−lo) vs (1−f)·lo+f·hi diverge in FP for non-dyadic f — the
  // reason p01/p99 would flake cross-engine; 1/16 ≈ p06 is the nearest
  // dyadic screen).
  //
  // Scale: q199's bounded-domain histogram quantile (one hash groupBy to
  // the value grid, windows partitioned by segment), then ONE exact-moment
  // pass: interior sums Σc, Σc² ride long/decimal integer arithmetic and
  // the clamped tails enter as count·bound products in fixed order — no
  // order-dependent float accumulation anywhere.
  def q207WinsorStats(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(
      col("c_mktsegment").as("seg"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val hist = cust.groupBy(col("seg"), col("cents")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("seg")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("seg"))))
    val qLo = 0.0625; val qHi = 0.9375
    def vAt(idx: org.apache.spark.sql.Column) = min(when(col("cum") > idx, col("cents")))
    def loIdx(q: Double) = floor((col("n") - 1).cast("double") * lit(q)).cast("long")
    def hiIdx(q: Double) = ceil((col("n") - 1).cast("double") * lit(q)).cast("long")
    val bounds = hist.groupBy(col("seg")).agg(
      max(col("n")).as("n"),
      vAt(loIdx(qLo)).as("lo_l"), vAt(hiIdx(qLo)).as("lo_h"),
      vAt(loIdx(qHi)).as("hi_l"), vAt(hiIdx(qHi)).as("hi_h"))
    def interp(q: Double, lo: String, hi: String) = {
      val hq = (col("n") - 1).cast("double") * lit(q)
      val frac = hq - floor(hq).cast("double")
      col(lo).cast("double") + frac * (col(hi).cast("double") - col(lo).cast("double"))
    }
    val b = bounds.select(col("seg"),
      interp(qLo, "lo_l", "lo_h").as("plo"), interp(qHi, "hi_l", "hi_h").as("phi"))
    cust.join(broadcast(b), Seq("seg"))
      .groupBy(col("seg"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("cents") < col("plo")).as("n_lo"),
        count_if(col("cents") > col("phi")).as("n_hi"),
        sum(when(col("cents").between(col("plo"), col("phi")), col("cents"))
          .otherwise(0L)).as("s1"),
        sum(when(col("cents").between(col("plo"), col("phi")),
          col("cents").cast(DecimalType(38, 0)) * col("cents"))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).as("s2"),
        max(col("plo")).as("plo"), max(col("phi")).as("phi"))
      .withColumn("mean_c",
        (col("s1").cast("double") + col("n_lo") * col("plo") + col("n_hi") * col("phi"))
          / col("n"))
      .withColumn("ex2",
        (col("s2").cast("double") + col("n_lo") * (col("plo") * col("plo"))
          + col("n_hi") * (col("phi") * col("phi"))) / col("n"))
      .withColumn("variance",
        // n=1 guard: Bessel's n-1 denominator — Spark Divide NULLs on /0,
        // DuckDB IEEE-divides to nan; pin both to NULL for singleton groups
        when(col("n") > 1,
          (col("ex2") - col("mean_c") * col("mean_c")) * col("n") / (col("n") - 1)))
      .select(col("seg").as("c_mktsegment"), col("n"),
        Num.pround(col("plo") / 100.0, 6).as("p_lo"),
        Num.pround(col("phi") / 100.0, 6).as("p_hi"),
        Num.pround(col("mean_c") / 100.0, 6).as("mean_w"),
        Num.pround(sqrt(col("variance")) / 100.0, 6).as("std_w"))
      .orderBy(col("c_mktsegment"))
  }

  val q207Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |b AS (
      |  SELECT seg, quantile_cont(cents, 0.0625) AS plo,
      |    quantile_cont(cents, 0.9375) AS phi
      |  FROM c GROUP BY seg),
      |m AS (
      |  SELECT seg, plo, phi, COUNT(*) AS n,
      |    COUNT(*) FILTER (cents < plo) AS n_lo,
      |    COUNT(*) FILTER (cents > phi) AS n_hi,
      |    CAST(COALESCE(SUM(cents) FILTER (cents BETWEEN plo AND phi), 0) AS DOUBLE) AS s1,
      |    CAST(COALESCE(SUM(cents * cents) FILTER (cents BETWEEN plo AND phi), 0) AS DOUBLE) AS s2
      |  FROM c JOIN b USING (seg) GROUP BY seg, plo, phi),
      |st AS (
      |  SELECT seg, n, plo, phi,
      |    (s1 + n_lo * plo + n_hi * phi) / n AS mean_c,
      |    (s2 + n_lo * (plo * plo) + n_hi * (phi * phi)) / n AS ex2
      |  FROM m)
      |SELECT seg AS c_mktsegment, n,
      |  FLOOR((plo / 100.0) * 1e6 + 0.5) / 1e6 AS p_lo, FLOOR((phi / 100.0) * 1e6 + 0.5) / 1e6 AS p_hi,
      |  FLOOR((mean_c / 100.0) * 1e6 + 0.5) / 1e6 AS mean_w,
      |  CASE WHEN n > 1 THEN
      |    FLOOR((sqrt((ex2 - mean_c * mean_c) * n / (n - 1)) / 100.0) * 1e6 + 0.5) / 1e6
      |  END AS std_w
      |FROM st ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------------------
  // q210 — DATASET-MIXTURE planner: given per-source token counts, target
  // mixture weights, and a token budget, compute each source's sampling
  // rate, epoch count (oversampling factor), and expected contribution —
  // the "data mixture table" a pretraining run is configured from.
  //
  // Scale: per-source token counts are one hash aggregate over the corpus
  // (sources are a bounded domain); the planner math is row-local
  // arithmetic on that bounded grid against a broadcast 1-row total. The
  // weights are a literal broadcast config table.
  def q210MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weights = Seq(("src0", 3L), ("src1", 3L), ("src2", 2L))
      .toDF("source", "w") // unlisted sources default to weight 1
    val tokens = Tables.documents(spark, dir)
      .withColumn("n_tok", size(TextOps.toks))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("tokens"))
      .join(broadcast(weights), Seq("source"), "left")
      .withColumn("w", coalesce(col("w"), lit(1L)))
    val totals = tokens.agg(sum(col("w")).as("w_tot"), sum(col("tokens")).as("tok_tot"))
    tokens.crossJoin(broadcast(totals))
      // budget = half the corpus tokens; integer div keeps it exact
      .withColumn("share", col("w").cast("double") / col("w_tot"))
      // explicit floor: double→long CAST truncates in Spark but rounds in
      // other engines — floor is the portable spelling
      .withColumn("target_tokens",
        expr("cast(floor(share * cast(tok_tot div 2 as double)) as long)"))
      .withColumn("epochs", Num.pround(col("target_tokens").cast("double") / col("tokens"), 6))
      .select(col("source"), col("tokens"), col("w"),
        Num.pround(col("share"), 6).as("share"), col("target_tokens"), col("epochs"))
      .orderBy(col("source"))
  }

  val q210Sql: String =
    s"""WITH tok AS (
       |  SELECT source, CAST(SUM(len(${TextOps.toksSqlD})) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       |w(source, w) AS (VALUES ('src0', 3), ('src1', 3), ('src2', 2)),
       |t AS (
       |  SELECT tok.source, tokens, CAST(COALESCE(w.w, 1) AS BIGINT) AS w
       |  FROM tok LEFT JOIN w ON tok.source = w.source),
       |tot AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS w_tot, CAST(SUM(tokens) AS BIGINT) AS tok_tot
       |  FROM t)
       |SELECT source, tokens, w,
       |  FLOOR((w::DOUBLE / w_tot) * 1e6 + 0.5) / 1e6 AS share,
       |  CAST(FLOOR(w::DOUBLE / w_tot * CAST(tok_tot // 2 AS DOUBLE)) AS BIGINT)
       |    AS target_tokens,
       |  FLOOR((CAST(FLOOR(w::DOUBLE / w_tot * CAST(tok_tot // 2 AS DOUBLE)) AS BIGINT)
       |    ::DOUBLE / tokens) * 1e6 + 0.5) / 1e6 AS epochs
       |FROM t, tot ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // q268 — TWO-HOP GRAPH FEATURE AGGREGATION (GNN message passing in
  // relational form): over the bipartite supplier–part purchase graph,
  // round 1 averages each supplier's neighbor-part base feature, round 2
  // averages each part's neighbor-supplier round-1 state — the
  // GraphSAGE-mean layer, where each round is ONE equi-join + one
  // aggregate, the only shape message passing can take at 100 TB.
  //
  // Exactness: the base feature is an exact cent long (min neighbor
  // price); each round's mean uses INTEGER floor-division (Σ div n), so
  // state stays integral across rounds — no float accumulation between
  // hops (the q201 lesson applied to iterative aggregation).
  def q268GraphAggregation(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)").as("cents"))
    val base = edges.groupBy(col("p")).agg(min(col("cents")).as("x"))
    val dedges = edges.select(col("p"), col("s")).distinct()
    val h1 = dedges.join(base, Seq("p"))
      .groupBy(col("s"))
      .agg(expr("sum(x) div count(1)").as("h1"))
    val h2 = dedges.join(h1, Seq("s"))
      .groupBy(col("p"))
      .agg(expr("sum(h1) div count(1)").as("h2"), count(lit(1)).as("n_sup"))
    base.join(h2, Seq("p"))
      .select(col("p").as("partkey"),
        Num.pround(col("x") / 100.0, 2).as("own_price"),
        Num.pround(col("h2") / 100.0, 2).as("neighborhood_price"),
        col("n_sup"))
      .orderBy(col("partkey"))
  }

  val q268Sql: String =
    """WITH e AS (
      |  SELECT l_partkey AS p, l_suppkey AS s,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |base AS (SELECT p, MIN(cents) AS x FROM e GROUP BY 1),
      |de AS (SELECT DISTINCT p, s FROM e),
      |h1 AS (
      |  SELECT s, SUM(x) // COUNT(*) AS h1
      |  FROM de JOIN base USING (p) GROUP BY 1),
      |h2 AS (
      |  SELECT p, SUM(h1) // COUNT(*) AS h2, COUNT(*) AS n_sup
      |  FROM de JOIN h1 USING (s) GROUP BY 1)
      |SELECT p AS partkey,
      |  FLOOR((x / 100.0) * 1e2 + 0.5) / 1e2 AS own_price,
      |  FLOOR((h2 / 100.0) * 1e2 + 0.5) / 1e2 AS neighborhood_price,
      |  n_sup
      |FROM base JOIN h2 USING (p)
      |ORDER BY partkey""".stripMargin

  // --------------------------------------------------------------------------
  // q270 — DEGREE ASSORTATIVITY of the supplier–part purchase graph: do
  // high-degree parts trade with high-degree suppliers (r > 0, hub-hub
  // coupling) or with the periphery (r < 0, hub-and-spoke)? r is the
  // Pearson correlation of endpoint degrees over EDGES — the number that
  // predicts whether q206/q221-style traversals will hit hub fan-out.
  // One distinct-edge pass, two degree equi-joins, exact integer moments,
  // one sqrt at output.
  def q270Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
    val degP = edges.groupBy(col("p")).agg(count(lit(1)).as("dp"))
    val degS = edges.groupBy(col("s")).agg(count(lit(1)).as("ds"))
    edges.join(degP, Seq("p")).join(degS, Seq("s"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("dp")).cast(d38).as("sx"), sum(col("ds")).cast(d38).as("sy"),
        sum(col("dp") * col("ds")).cast(d38).as("sxy"),
        sum(col("dp") * col("dp")).cast(d38).as("sxx"),
        sum(col("ds") * col("ds")).cast(d38).as("syy"))
      .select(col("n").cast("long").as("n_edges"),
        Num.pround((col("sxy") * col("n") - col("sx") * col("sy")).cast("double") /
          sqrt((col("sxx") * col("n") - col("sx") * col("sx")).cast("double") *
            (col("syy") * col("n") - col("sy") * col("sy")).cast("double")), 6)
          .as("assortativity"))
  }

  val q270Sql: String =
    """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |dp AS (SELECT p, COUNT(*) AS dp FROM e GROUP BY 1),
      |ds AS (SELECT s, COUNT(*) AS ds FROM e GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(dp AS HUGEINT)) AS sx, SUM(CAST(ds AS HUGEINT)) AS sy,
      |    SUM(CAST(dp AS HUGEINT) * ds) AS sxy,
      |    SUM(CAST(dp AS HUGEINT) * dp) AS sxx,
      |    SUM(CAST(ds AS HUGEINT) * ds) AS syy
      |  FROM e JOIN dp USING (p) JOIN ds USING (s))
      |SELECT CAST(n AS BIGINT) AS n_edges,
      |  FLOOR((CAST(sxy * n - sx * sy AS DOUBLE) /
      |    sqrt(CAST(sxx * n - sx * sx AS DOUBLE) * CAST(syy * n - sy * sy AS DOUBLE)))
      |    * 1e6 + 0.5) / 1e6 AS assortativity
      |FROM m""".stripMargin

  // ═════════════════ formerly Round8cOps (consolidated round 10) ═════════════════

  // --------------------------------------------------------------------------
  // q299 — CURATION PIPELINE v2 (round-8 capstone, q100's modern twin):
  // canonicalize (q84's regex pair) → exact-dedup keeping the min doc_id
  // per canonical hash (q30) → DSIR importance selection against the
  // English target (q279's hashed-bigram LMs, built over the DEDUPED
  // corpus IN the same plan) → pack survivors into 512-token training
  // blocks (q285's global offsets) — reported per source: raw/dedup/kept
  // doc counts, kept and loss-masked token mass, and blocks touched. ONE
  // lazy Catalyst plan end to end; every stage reuses a proven shape.
  //
  // Scale: dedup and DSIR are hash aggregates + broadcast log-ratio
  // lookups; packing offsets ride the q169 two-pass bucketed prefix —
  // linear, no corpus-sized window.
  //
  // Determinism: hashes/counts/interval arithmetic exact; DSIR weights
  // are 1e-9-grid quantized longs (q279's rule).
  def q299CurationV2(spark: SparkSession, dir: String): DataFrame = {
    val canon = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"), col("lang"),
      regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ").as("tc"))
    val keepIds = canon.groupBy(md5(col("tc")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val dedup = canon.join(keepIds, Seq("doc_id"))
    val toks = dedup.select(col("doc_id"), col("source"), col("lang"),
      expr("filter(split(tc, ' '), t -> t != '')").as("t"))
      .filter(size(col("t")) >= 2)
    val bigrams = toks.select(col("doc_id"), col("source"), col("lang"),
      explode(expr("zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
        " (a, b) -> concat(a, ' ', b))")).as("bg"))
      .withColumn("b",
        expr("cast(conv(substring(md5(bg), 1, 8), 16, 10) as bigint) % 1024"))
    val tgt = bigrams.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val srcC = bigrams.groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val tots = bigrams.agg(
      count_if(col("lang") === "en").as("tot_t"), count(lit(1)).as("tot_s"))
    val lr = srcC.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tots))
      .withColumn("lr_q", expr(
        "cast(floor(ln((ct + 1.0d) * (tot_s + 1024.0d) / ((cs + 1.0d) * (tot_t + 1024.0d)))" +
          " * 1e9 + 0.5d) as long)"))
      .select(col("b"), col("lr_q"))
    val kept = bigrams.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id")).agg(sum(col("lr_q")).as("lw"))
      .filter(col("lw") > 0)
      .join(toks.select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("len")), Seq("doc_id"))
    // q285's two-pass offsets over the kept stream, then blocks touched
    val mx = kept.agg(max(col("doc_id")).as("mx"))
    val bucketed = kept.crossJoin(broadcast(mx))
      .withColumn("bucket", expr("doc_id div (mx div 256 + 1)")).drop("mx")
    val offs = bucketed.groupBy(col("bucket")).agg(sum(col("len")).as("btoks"))
      .withColumn("boff",
        coalesce(sum(col("btoks")).over(
          Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("boff"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = bucketed.join(broadcast(offs), Seq("bucket"))
      .withColumn("start", col("boff") + coalesce(sum(col("len")).over(wIn), lit(0L)))
    val blocksTouched = spans
      .select(col("source"),
        explode(expr("sequence(start div 512, (start + len - 1) div 512)")).as("blk"))
      .groupBy(col("source")).agg(countDistinct(col("blk")).as("n_blocks"))
    val raw = canon.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val dd = dedup.groupBy(col("source")).agg(count(lit(1)).as("n_dedup"))
    val ks = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("len")).as("tokens_kept"),
        sum(col("len") - expr("(len + 3) div 4")).as("loss_tokens"))
    raw.join(dd, Seq("source"), "left")
      .join(ks, Seq("source"), "left")
      .join(blocksTouched, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        coalesce(col("loss_tokens"), lit(0L)).as("loss_tokens"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"))
      .orderBy(col("source"))
  }

  val q299Sql: String =
    """WITH canon AS (
      |  SELECT doc_id, source, lang,
      |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |      ' +', ' ', 'g') AS tc
      |  FROM documents),
      |keep AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY md5(tc)),
      |dedup AS (SELECT c.* FROM canon c JOIN keep USING (doc_id)),
      |t2 AS (
      |  SELECT doc_id, source, lang,
      |    list_filter(string_split(tc, ' '), x -> x != '') AS t
      |  FROM dedup
      |  WHERE len(list_filter(string_split(tc, ' '), x -> x != '')) >= 2),
      |bg AS (
      |  SELECT doc_id, source, lang,
      |    ('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))::BIGINT % 1024 AS b
      |  FROM t2, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
      |ct AS (SELECT b, COUNT(*) AS ct FROM bg WHERE lang = 'en' GROUP BY b),
      |cs AS (SELECT b, COUNT(*) AS cs FROM bg GROUP BY b),
      |tot AS (SELECT
      |  (SELECT COUNT(*) FROM bg WHERE lang = 'en') AS tot_t,
      |  (SELECT COUNT(*) FROM bg) AS tot_s),
      |lr AS (
      |  SELECT cs.b,
      |    CAST(FLOOR(ln((COALESCE(ct.ct, 0) + 1.0) * (tot_s + 1024.0)
      |      / ((cs.cs + 1.0) * (tot_t + 1024.0))) * 1e9 + 0.5) AS BIGINT) AS lr_q
      |  FROM cs LEFT JOIN ct ON ct.b = cs.b CROSS JOIN tot),
      |sc AS (
      |  SELECT doc_id, SUM(lr_q) AS lw
      |  FROM bg JOIN lr ON lr.b = bg.b GROUP BY 1),
      |kept AS (
      |  SELECT t2.doc_id, t2.source, len(t2.t)::BIGINT AS len
      |  FROM sc JOIN t2 ON t2.doc_id = sc.doc_id WHERE lw > 0),
      |sp AS (
      |  SELECT doc_id, source, len,
      |    COALESCE(SUM(len) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      |  FROM kept),
      |blk AS (
      |  SELECT source, blk
      |  FROM (SELECT source, start, start + len AS e FROM sp),
      |    UNNEST(generate_series(CAST(start // 512 AS BIGINT),
      |      CAST((e - 1) // 512 AS BIGINT))) AS u(blk)),
      |raw AS (SELECT source, COUNT(*) AS n_raw FROM canon GROUP BY 1),
      |dd AS (SELECT source, COUNT(*) AS n_dedup FROM dedup GROUP BY 1),
      |ks AS (
      |  SELECT source, COUNT(*) AS n_kept, SUM(len) AS tokens_kept,
      |    SUM(len - (len + 3) // 4) AS loss_tokens
      |  FROM kept GROUP BY 1),
      |bl AS (SELECT source, COUNT(DISTINCT blk) AS n_blocks FROM blk GROUP BY 1)
      |SELECT raw.source, CAST(n_raw AS BIGINT) AS n_raw,
      |  CAST(COALESCE(n_dedup, 0) AS BIGINT) AS n_dedup,
      |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(tokens_kept, 0) AS BIGINT) AS tokens_kept,
      |  CAST(COALESCE(loss_tokens, 0) AS BIGINT) AS loss_tokens,
      |  CAST(COALESCE(n_blocks, 0) AS BIGINT) AS n_blocks
      |FROM raw LEFT JOIN dd USING (source) LEFT JOIN ks USING (source)
      |LEFT JOIN bl USING (source)
      |ORDER BY raw.source""".stripMargin


  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q268_graph_aggregation", q268GraphAggregation _, Some(q268Sql)),
    ("q270_assortativity", q270Assortativity _, Some(q270Sql)),
    ("q197_phash_dedup", q197PhashDedup _, Some(q197Sql)),
    ("q206_triangle_count", q206TriangleCount _, Some(q206Sql)),
    ("q207_winsor_stats", q207WinsorStats _, Some(q207Sql)),
    ("q210_mixture_plan", q210MixturePlan _, Some(q210Sql)),
    ("q198_market_basket", q198MarketBasket _, Some(q198Sql)),
    ("q199_robust_scale", q199RobustScale _, Some(q199Sql)),
    ("q200_zonemap_prune", q200ZoneMapPrune _, Some(q200Sql)),
    ("q201_decay_profile", q201DecayProfile _, Some(q201Sql)),
    ("q202_l_diversity", q202LDiversity _, Some(q202Sql)),
    ("q203_curation_funnel", q203CurationFunnel _, Some(q203Sql)),
    ("q204_zipf_fit", q204ZipfFit _, Some(q204Sql)),
    // formerly Round8cOps
    ("q299_curation_v2", q299CurationV2 _, Some(q299Sql)),
    ("q425_filter_overlap", q425FilterOverlap _, Some(q425Sql)))

  // --------------------------------------------------------------------------
  // q425 — QUALITY-GATE OVERLAP CENSUS (round 11): the Venn decomposition
  // of three independent row-local curation gates — length (8 ≤ ntok ≤
  // 512, the Gopher-style bound), stopword evidence (≥ 2 English
  // stopwords, the C4-style natural-language signal), and symbol load
  // (punctuation ≤ 20% of chars) — one row per pass/fail combination with
  // doc count, token mass, and corpus doc share. q203's funnel prices the
  // gates SEQUENTIALLY (each stage sees the survivors); this is the
  // complementary readout: which gates are REDUNDANT (their fail sets
  // nest) and which bite independently — the number that says whether
  // running the expensive third gate changes the kept set at all.
  //
  // Scale: all three predicates are row-local integer arithmetic in one
  // codegen'd pass; the census is a hash aggregate onto ≤ 8 cells and the
  // share denominator is a window total over that bounded grid.
  def q425FilterOverlap(spark: SparkSession, dir: String): DataFrame = {
    val stopSet = "array('the', 'a', 'of', 'and', 'to', 'is')"
    val flags = Tables.documents(spark, dir)
      .select(col("n_chars"), col("text"),
        expr("filter(split(lower(text), ' '), t -> t != '')").as("toks"))
      .select(
        size(col("toks")).cast("long").as("ntok"),
        expr(s"size(filter(toks, t -> array_contains($stopSet, t)))").as("stop_hits"),
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("long").as("n_punct"),
        col("n_chars"))
      .select(
        (col("ntok") >= 8 && col("ntok") <= 512).as("len_ok"),
        (col("stop_hits") >= 2).as("stop_ok"),
        (col("n_punct") * 5 <= col("n_chars")).as("sym_ok"),
        col("ntok"))
    flags.groupBy(col("len_ok"), col("stop_ok"), col("sym_ok"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"))
      .withColumn("docs_ppm",
        expr("(1000000L * n_docs) div (sum(n_docs) over ())"))
      .orderBy(col("len_ok"), col("stop_ok"), col("sym_ok"))
  }

  // lazy: referenced by the `catalog` val declared ABOVE this definition —
  // a plain val would still be null at catalog-initialization time
  lazy val q425Sql: String =
    s"""WITH f AS (
       |  SELECT
       |    len(${graft.ops.TextOps.toksSqlD}) AS ntok,
       |    len(list_filter(${graft.ops.TextOps.toksSqlD},
       |        t -> list_contains(['the','a','of','and','to','is'], t))) AS stop_hits,
       |    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
       |    n_chars
       |  FROM documents),
       |cells AS (
       |  SELECT ntok BETWEEN 8 AND 512 AS len_ok, stop_hits >= 2 AS stop_ok,
       |    n_punct * 5 <= n_chars AS sym_ok, ntok
       |  FROM f)
       |SELECT len_ok, stop_ok, sym_ok, COUNT(*) AS n_docs,
       |  CAST(SUM(ntok) AS BIGINT) AS tokens,
       |  CAST((1000000 * COUNT(*)) // (SUM(COUNT(*)) OVER ()) AS BIGINT)
       |    AS docs_ppm
       |FROM cells GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
}
