package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus hygiene and language-model statistics — Kneser-Ney, RR debias, contamination semi-joins, mixture reweighting, LOO source stats, dedup saturation, token-set groups, novelty curves, vocab coverage, OOV audits, template census — plus batch riders (Neyman allocation, bitmap intersect, serpentine shards, Hampel filter, price endings).
  *
  * Consolidated from the round-8 per-batch files (Round8eOps, Round8kOps, Round8lOps, Round8mOps, Round8oOps, Round8anOps, Round8auOps)
  * per the round-8 verdict's maintainability task: same operators,
  * same catalog entries, same oracles, byte-identical results —
  * only the file layout changed. Section markers preserve the
  * original batch scaladocs and boundaries.
  */
object CorpusStatOps {
  // ═════════════════ formerly Round8eOps ═════════════════
  /** Round-8 fifth operator batch: interpolated Kneser–Ney bigram
    * smoothing, Neyman survey allocation, randomized-response frequency
    * debiasing, and bitmap-index intersection counting — LM/sampling/
    * privacy/storage surface, all with exact-integer hashed cells
    * (§8.4). Hash portability: cross-engine randomness goes through the
    * md5-hex pattern proven by q27/q33/q138.
    */

  // --------------------------------------------------------------------------
  // q306 — INTERPOLATED KNESER–NEY bigram smoothing (D = 3/4) on exact
  // integer arithmetic: for every observed bigram,
  //   P_KN(w2|w1) = (c12 − D)/c1 + (D/c1)·N1+(w1,·)·N1+(·,w2)/T
  // where N1+ are continuation/follower type counts and T the distinct
  // bigram count. With D = 3/4 everything cross-multiplies to the exact
  // integer ppm  (10⁶·((4·c12 − 3)·T + 3·nfol·nctx)) div (4·c1·T)  —
  // observed bigrams always have c12 ≥ 1, so the max(c12 − D, 0) clip
  // never binds and the closed form is exact. Ships the top-20 bigrams
  // by count — the standard smoothed-LM spot readout.
  //
  // Scale: one row-local bigram expansion, hash aggregates on bigram /
  // w1 / w2 keys, a 1-row T broadcast, equi-join-backs, and a global
  // top-20 (TakeOrderedAndProject). Overflow: 10⁶·4·c12·T needs c12·T <
  // 2.3·10¹¹ — c12 ≈ 1.5k and T = 961 at sf0.1, five orders under.
  def knBigrams(docs: DataFrame, topK: Int): DataFrame = {
    val pairs = docs
      .select(expr("filter(split(lower(text), ' '), t -> t != '')").as("t"))
      .select(explode(expr(
        """if(size(t) >= 2,
          |   transform(sequence(0, size(t) - 2),
          |     i -> struct(t[i] as w1, t[i+1] as w2)),
          |   array())""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val left = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nfol"))
    val ctx = big.groupBy(col("w2")).agg(count(lit(1)).as("nctx"))
    val t = big.agg(count(lit(1)).as("bt"))
    big.join(left, Seq("w1")).join(ctx, Seq("w2")).crossJoin(broadcast(t))
      .withColumn("pkn_ppm", expr(
        "(1000000L * ((4L * c12 - 3L) * bt + 3L * nfol * nctx)) div (4L * c1 * bt)"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("nfol"), col("nctx"), col("pkn_ppm"))
  }

  def q306KneserNey(spark: SparkSession, dir: String): DataFrame =
    knBigrams(Tables.documents(spark, dir), topK = 20)

  val q306Sql: String =
    s"""WITH pr AS (
       |  SELECT t[i] AS w1, t[i+1] AS w2
       |  FROM (SELECT ${TextOps.toksSqlD} AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
       |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM pr GROUP BY w1, w2),
       |lft AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS nfol FROM big GROUP BY w1),
       |ctx AS (SELECT w2, COUNT(*) AS nctx FROM big GROUP BY w2),
       |t AS (SELECT COUNT(*) AS bt FROM big)
       |SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
       |  CAST(nfol AS BIGINT) AS nfol, CAST(nctx AS BIGINT) AS nctx,
       |  CAST((1000000 * ((4 * c12 - 3) * bt + 3 * nfol * nctx))
       |    // (4 * c1 * bt) AS BIGINT) AS pkn_ppm
       |FROM big JOIN lft USING (w1) JOIN ctx USING (w2) CROSS JOIN t
       |ORDER BY c12 DESC, w1, w2 LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // q307 — NEYMAN ALLOCATION of a fixed sample budget across strata:
  // n_h ∝ N_h·σ_h. The Neyman weight collapses to w_h = √(N_h·Σx² −
  // (Σx)²) — ONE sqrt of an exact integer (sums in exact cents, the
  // variance numerator in DECIMAL(38,0) so (Σx)² cannot overflow at any
  // SF). The weight is then quantized to exact centi-units and the
  // 1000-row budget is split by the LARGEST-REMAINDER method on pure
  // integer arithmetic (base = floor share, remainders compared as exact
  // `mod` integers, ties by segment name) — allocations sum to EXACTLY
  // the budget on every engine.
  //
  // Scale: one aggregate per stratum (5 rows), then grid-sized math.
  def neymanAllocation(customer: DataFrame, budget: Int): DataFrame = {
    val st = customer
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_h"),
        expr("sum(cast(floor(c_acctbal * 100 + 0.5d) as bigint))").as("s1"),
        expr("sum(cast(floor(c_acctbal * 100 + 0.5d) as bigint) * " +
          "cast(floor(c_acctbal * 100 + 0.5d) as bigint))").as("s2"))
      .withColumn("vnum", expr(
        "cast(n_h as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1"))
      .withColumn("wq", expr(
        // centi-unit quantization: w ≤ ~3.3·10¹⁰ even at the 10× probe,
        // so 10⁶·wq ≤ ~3.3·10¹⁸ stays inside BIGINT for the ppm share
        "cast(floor(sqrt(cast(vnum as double)) * 1e2 + 0.5d) as bigint)"))
    val tot = st.agg(sum(col("wq")).as("wtot"))
    val g = st.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(${budget}L * wq) div wtot"))
      .withColumn("rem", expr(s"(${budget}L * wq) % wtot"))
    val short = g.agg((lit(budget) - sum(col("base"))).as("short"))
    g.crossJoin(broadcast(short))
      .withColumn("rrank", row_number().over(
        Window.orderBy(col("rem").desc, col("segment"))))
      .withColumn("alloc",
        col("base") + when(col("rrank") <= col("short"), 1L).otherwise(0L))
      .withColumn("share_ppm", expr("(1000000L * wq) div wtot"))
      .select(col("segment"), col("n_h"), col("wq"), col("share_ppm"),
        col("alloc"))
      .orderBy(col("segment"))
  }

  def q307NeymanAllocation(spark: SparkSession, dir: String): DataFrame =
    neymanAllocation(Tables.customer(spark, dir), budget = 1000)

  val q307Sql: String =
    """WITH st AS (
      |  SELECT c_mktsegment AS segment, COUNT(*) AS n_h,
      |    SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS s1,
      |    SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) *
      |        CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS s2
      |  FROM customer GROUP BY 1),
      |w AS (
      |  SELECT segment, n_h,
      |    CAST(FLOOR(sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE)) * 1e2 + 0.5)
      |      AS BIGINT) AS wq
      |  FROM st),
      |tot AS (SELECT SUM(wq) AS wtot FROM w),
      |g AS (
      |  SELECT segment, n_h, wq,
      |    CAST((1000 * wq) // wtot AS BIGINT) AS base,
      |    CAST((1000 * wq) % wtot AS BIGINT) AS rem,
      |    CAST((1000000 * wq) // wtot AS BIGINT) AS share_ppm
      |  FROM w CROSS JOIN tot),
      |s AS (SELECT 1000 - SUM(base) AS short FROM g)
      |SELECT segment, n_h, wq, share_ppm,
      |  base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, segment)
      |    <= short THEN 1 ELSE 0 END AS alloc
      |FROM g CROSS JOIN s ORDER BY segment""".stripMargin

  // --------------------------------------------------------------------------
  // q308 — RANDOMIZED-RESPONSE FREQUENCY DEBIASING: each document
  // reports its language truthfully with probability 3/4, else a
  // pseudo-uniform draw over the k-language domain (both choices
  // md5-derived — deterministic, partition-invariant, engine-portable).
  // The unbiased estimator n̂_l = (4k·obs_l − n)/(3k) is exact integer
  // cross-multiplication; the readout compares it to the true counts —
  // the local-DP telemetry pattern for sensitive-attribute histograms.
  //
  // Scale: row-local mechanism + one k-row domain join + hash
  // aggregates; the language-domain rank window is domain-bounded
  // (allowlisted, q119's marginal class).
  def rrDebias(docs: DataFrame): DataFrame = {
    val langs = docs.select(col("lang").as("true_lang")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("true_lang"))) - 1)
    val k = langs.agg(count(lit(1)).as("k"))
    // flip ~1/4 of rows; replacement index is an independent md5 draw
    val mech = docs.select(col("doc_id"), col("lang"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat('rr', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"))
      .crossJoin(broadcast(k))
      .withColumn("ridx", when(col("u") % 4 === 0, expr("(u div 16) % k")))
    val reported = mech
      .join(broadcast(langs), mech("ridx") === langs("idx"), "left")
      .withColumn("reported", coalesce(col("true_lang"), col("lang")))
    val obs = reported.groupBy(col("reported").as("lang"))
      .agg(count(lit(1)).as("n_obs"))
    val truth = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
    val tot = docs.agg(count(lit(1)).as("n")).crossJoin(k)
    truth.join(obs, Seq("lang"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .withColumn("est_e2", expr("(100L * (4L * k * n_obs - n)) div (3L * k)"))
      .withColumn("err_e2", col("est_e2") - lit(100L) * col("n_true"))
      .select(col("lang"), col("n_true"), col("n_obs"), col("est_e2"),
        col("err_e2"))
      .orderBy(col("lang"))
  }

  def q308RrDebias(spark: SparkSession, dir: String): DataFrame =
    rrDebias(Tables.documents(spark, dir))

  val q308Sql: String =
    """WITH langs AS (
      |  SELECT true_lang, ROW_NUMBER() OVER (ORDER BY true_lang) - 1 AS idx
      |  FROM (SELECT DISTINCT lang AS true_lang FROM documents)),
      |k AS (SELECT COUNT(*) AS k FROM langs),
      |mech AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('rr' || doc_id::VARCHAR), 1, 8))::BIGINT AS u
      |  FROM documents),
      |rep AS (
      |  SELECT m.doc_id,
      |    CASE WHEN m.u % 4 = 0 THEN l.true_lang ELSE m.lang END AS reported
      |  FROM mech m CROSS JOIN k
      |  LEFT JOIN langs l ON m.u % 4 = 0
      |    AND (m.u // 16) % k.k = l.idx),
      |obs AS (SELECT reported AS lang, COUNT(*) AS n_obs FROM rep GROUP BY 1),
      |tr AS (SELECT lang, COUNT(*) AS n_true FROM documents GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT tr.lang, tr.n_true, COALESCE(obs.n_obs, 0) AS n_obs,
      |  CAST((100 * (4 * k.k * COALESCE(obs.n_obs, 0) - tot.n)) // (3 * k.k)
      |    AS BIGINT) AS est_e2,
      |  CAST((100 * (4 * k.k * COALESCE(obs.n_obs, 0) - tot.n)) // (3 * k.k)
      |    - 100 * tr.n_true AS BIGINT) AS err_e2
      |FROM tr LEFT JOIN obs USING (lang) CROSS JOIN tot CROSS JOIN k
      |ORDER BY tr.lang""".stripMargin

  // --------------------------------------------------------------------------
  // q309 — BITMAP-INDEX INTERSECTION: build one compressed-word bitmap
  // per o_orderstatus value and one per o_orderpriority value (62-bit
  // words keyed by o_orderkey div 62 — 62 keeps every set bit positive
  // in signed arithmetic on both engines), then count every
  // (status, priority) co-occurrence by ANDing words and summing
  // popcounts — the classic OLAP bitmap-index evaluation strategy,
  // verified against the plain GROUP BY the oracle runs.
  //
  // Scale: bitmap build is one hash aggregate per (value, word) —
  // |rows|/62 words per value; the intersection is an equi-join on the
  // word id with bounded per-word fan-out (|statuses| × |priorities|).
  // A 100 TB lift keys words by a densified row index (q169) instead of
  // the natural key.
  def bitmapIntersect(orders: DataFrame): DataFrame = {
    val words = orders.select(col("o_orderstatus"), col("o_orderpriority"),
      expr("o_orderkey div 62").as("wid"),
      expr("shiftleft(1L, cast(o_orderkey % 62 as int))").as("bit"))
    val sBm = words.groupBy(col("o_orderstatus"), col("wid"))
      .agg(expr("bit_or(bit)").as("sw"))
    val pBm = words.groupBy(col("o_orderpriority"), col("wid"))
      .agg(expr("bit_or(bit)").as("pw"))
    sBm.join(pBm, Seq("wid"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(expr("cast(sum(bit_count(sw & pw)) as bigint)").as("n"))
      .filter(col("n") > 0)
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  def q309BitmapIntersect(spark: SparkSession, dir: String): DataFrame =
    bitmapIntersect(Tables.orders(spark, dir))

  val q309Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY 1, 2
      |HAVING COUNT(*) > 0
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  private val catalogE: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q306_kneser_ney", q306KneserNey _, Some(q306Sql)),
    ("q307_neyman_allocation", q307NeymanAllocation _, Some(q307Sql)),
    ("q308_rr_debias", q308RrDebias _, Some(q308Sql)),
    ("q309_bitmap_intersect", q309BitmapIntersect _, Some(q309Sql)))

  // ═════════════════ formerly Round8kOps ═════════════════
  /** Round-8 eleventh operator batch: eval-set contamination coverage and
    * serpentine shard balancing — train/eval hygiene and layout planning
    * on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q327 — EVAL-CONTAMINATION COVERAGE: for a held-out eval slice
  // (doc_id % 50 == 0), what fraction of each eval doc's distinct
  // 3-grams also appears in the train split? q106 REMOVES contaminated
  // docs; this MEASURES the overlap distribution — the memorization-risk
  // readout a benchmark release runs before publishing. Ships the decile
  // histogram of per-doc coverage plus the exact integer mean.
  //
  // Scale: one shingle pass split into train/eval sides; the train gram
  // VOCABULARY (distinct s) left-semi-joins the eval grams — one shuffle
  // keyed by gram; per-doc and decile aggregates are hash aggs. At
  // 100 TB the train vocabulary side gets a bloom/stop-gram cap
  // (q194/q176's guards).
  def evalContamination(docs: DataFrame, modulus: Long): DataFrame = {
    val sh = TextOps.shingleEdges(docs)
    val evalSh = sh.filter(col("doc_id") % modulus === 0)
    val trainVocab = sh.filter(col("doc_id") % modulus =!= 0)
      .select(col("s")).distinct()
    val perDoc = evalSh
      .join(trainVocab.withColumn("hit", lit(1L)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tot"),
        sum(coalesce(col("hit"), lit(0L))).as("cov"))
      .withColumn("cov_ppm", expr("(1000000L * cov) div tot"))
    val summary = perDoc.agg(
      count(lit(1)).as("n_eval_docs"),
      expr("sum(cov_ppm) div count(1)").as("mean_cov_ppm"))
    perDoc
      .withColumn("decile", least(expr("cov_ppm div 100000L"), lit(9L)))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(summary))
      .select(col("decile"), col("n_docs"), col("n_eval_docs"), col("mean_cov_ppm"))
      .orderBy(col("decile"))
  }

  def q327EvalContamination(spark: SparkSession, dir: String): DataFrame =
    evalContamination(Tables.documents(spark, dir), modulus = 50L)

  val q327Sql: String = {
    val toks = TextOps.toksSqlD
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toks AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |tv AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 <> 0),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS tot,
       |    SUM(CASE WHEN tv.s IS NOT NULL THEN 1 ELSE 0 END) AS cov
       |  FROM sh LEFT JOIN tv ON sh.s = tv.s
       |  WHERE doc_id % 50 = 0 GROUP BY 1),
       |pc AS (SELECT doc_id, (1000000 * cov) // tot AS cov_ppm FROM pd),
       |su AS (
       |  SELECT COUNT(*) AS n_eval_docs,
       |    CAST(SUM(cov_ppm) // COUNT(*) AS BIGINT) AS mean_cov_ppm
       |  FROM pc)
       |SELECT CAST(LEAST(cov_ppm // 100000, 9) AS BIGINT) AS decile,
       |  COUNT(*) AS n_docs, n_eval_docs, mean_cov_ppm
       |FROM pc CROSS JOIN su
       |GROUP BY 1, 3, 4 ORDER BY decile""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q328 — SERPENTINE SHARD BALANCING: assign documents to 32 shards in
  // size rank order, reversing direction every block (rank serpentine —
  // the deterministic greedy that keeps every shard within one unit of
  // byte balance without LPT's sequential state). Readout: per-shard doc
  // and byte totals plus the signed ppm deviation from the ideal share.
  //
  // Scale: the global size rank uses the VALUE-HISTOGRAM two-pass
  // (q169's shape on the bounded n_chars domain): per-size counts →
  // exclusive prefix over the size grid (allowlisted), within-size rank
  // partitioned by size. No corpus-wide single-task sort.
  def serpentineShards(docs: DataFrame, shards: Int): DataFrame = {
    val sized = docs.select(col("doc_id"), col("n_chars").as("sz"))
    val hist = sized.groupBy(col("sz")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("sz").desc).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("sz"), col("off"))
    val ranked = sized.join(broadcast(hist), Seq("sz"))
      .withColumn("r", col("off") + row_number().over(
        Window.partitionBy(col("sz")).orderBy(col("doc_id"))))
      .withColumn("block", expr(s"(r - 1L) div ${shards}L"))
      .withColumn("pos", expr(s"(r - 1L) % ${shards}L"))
      .withColumn("shard",
        when(col("block") % 2 === 0, col("pos")).otherwise(lit(shards - 1L) - col("pos")))
    val tot = sized.agg(sum(col("sz")).as("bt"))
      .withColumn("ideal", expr(s"bt div ${shards}L"))
    ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("sz")).as("bytes"))
      .crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("bytes"),
        expr("(1000000L * (bytes - ideal)) div ideal").as("dev_ppm"))
      .orderBy(col("shard"))
  }

  def q328SerpentineShards(spark: SparkSession, dir: String): DataFrame =
    serpentineShards(Tables.documents(spark, dir), shards = 32)

  val q328Sql: String =
    """WITH ranked AS (
      |  SELECT n_chars AS sz,
      |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
      |  FROM documents),
      |a AS (
      |  SELECT sz, (r - 1) // 32 AS block, (r - 1) % 32 AS pos
      |  FROM ranked),
      |s AS (
      |  SELECT CASE WHEN block % 2 = 0 THEN pos ELSE 31 - pos END AS shard, sz
      |  FROM a),
      |t AS (SELECT SUM(sz) AS bt, SUM(sz) // 32 AS ideal FROM s)
      |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(sz) AS BIGINT) AS bytes,
      |  CAST((1000000 * (SUM(sz) - ideal)) // ideal AS BIGINT) AS dev_ppm
      |FROM s CROSS JOIN t
      |GROUP BY shard, ideal ORDER BY shard""".stripMargin

  private val catalogK: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q327_eval_contamination", q327EvalContamination _, Some(q327Sql)),
    ("q328_serpentine_shards", q328SerpentineShards _, Some(q328Sql)))

  // ═════════════════ formerly Round8lOps ═════════════════
  /** Round-8 twelfth operator batch: fixed-point mixture reweighting and
    * leave-one-out source contribution — training-mixture planning
    * readouts on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q329 — MIXTURE REWEIGHTING (DoReMi-lite): start from uniform source
  // weights and run 3 multiplicative-weights rounds against an excess-
  // loss proxy (sources whose mean doc length trails the corpus mean get
  // upweighted), renormalizing each round — the domain-reweighting loop
  // training-mixture planners run, in EXACT fixed-point ppm integers
  // (w ← w·(10⁶ + e/4) div 10⁶, then w ← 10⁶·|S|·w div Σw) so the
  // trajectory is bit-identical on every engine. q210/q115 ship STATIC
  // mixtures; this is the iterative planner.
  //
  // Scale: the corpus is touched ONCE (per-source token totals); the
  // three rounds are |S|-row grid arithmetic with 1-row sum joins.
  def mixtureReweight(docs: DataFrame, rounds: Int): DataFrame = {
    val src = docs
      .select(col("source"), size(TextOps.toks).cast("long").as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok"))
      .withColumn("m_ppm", expr("(1000000L * tok) div n_docs"))
    val g = src.agg(sum(col("n_docs")).as("gn"), sum(col("tok")).as("gt"),
      count(lit(1)).as("ns"))
      .withColumn("gm_ppm", expr("(1000000L * gt) div gn"))
    var cur = src.crossJoin(broadcast(g))
      .withColumn("e_ppm", greatest(col("gm_ppm") - col("m_ppm"), lit(0L)))
      .withColumn("w", lit(1000000L))
      .select(col("source"), col("n_docs"), col("m_ppm"), col("e_ppm"),
        col("ns"), col("w"))
    val traj = (1 to rounds).map { t =>
      val up = cur.withColumn("w", expr("(w * (1000000L + e_ppm div 4L)) div 1000000L"))
      val s = up.agg(sum(col("w")).as("sw"))
      cur = up.crossJoin(broadcast(s))
        .withColumn("w", expr("(1000000L * ns * w) div sw"))
        .select(col("source"), col("n_docs"), col("m_ppm"), col("e_ppm"),
          col("ns"), col("w"))
      cur.select(col("source"), col("w").as(s"w$t"))
    }
    traj.foldLeft(
      cur.select(col("source"), col("n_docs"), col("m_ppm"), col("e_ppm")))(
      (acc, t) => acc.join(t, Seq("source")))
      .orderBy(col("source"))
  }

  def q329MixtureReweight(spark: SparkSession, dir: String): DataFrame =
    mixtureReweight(Tables.documents(spark, dir), rounds = 3)

  val q329Sql: String = {
    val toks = TextOps.toksSqlD
    def round(prev: String, cur: String): String =
      s"""${cur}u AS (
         |  SELECT source, n_docs, m_ppm, e_ppm, ns,
         |    (w * (1000000 + e_ppm // 4)) // 1000000 AS w
         |  FROM $prev),
         |${cur}s AS (SELECT SUM(w) AS sw FROM ${cur}u),
         |$cur AS (
         |  SELECT source, n_docs, m_ppm, e_ppm, ns,
         |    (1000000 * ns * w) // sw AS w
         |  FROM ${cur}u CROSS JOIN ${cur}s)""".stripMargin
    s"""WITH src AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    SUM(len($toks)) AS tok
       |  FROM documents GROUP BY 1),
       |s2 AS (
       |  SELECT source, n_docs, tok,
       |    (1000000 * tok) // n_docs AS m_ppm
       |  FROM src),
       |g AS (
       |  SELECT SUM(n_docs) AS gn, SUM(tok) AS gt, COUNT(*) AS ns,
       |    (1000000 * SUM(tok)) // SUM(n_docs) AS gm_ppm
       |  FROM s2),
       |it0 AS (
       |  SELECT source, n_docs, m_ppm,
       |    GREATEST(gm_ppm - m_ppm, 0) AS e_ppm, ns,
       |    CAST(1000000 AS BIGINT) AS w
       |  FROM s2 CROSS JOIN g),
       |${round("it0", "it1")},
       |${round("it1", "it2")},
       |${round("it2", "it3")}
       |SELECT it1.source, CAST(it1.n_docs AS BIGINT) AS n_docs,
       |  CAST(it1.m_ppm AS BIGINT) AS m_ppm, CAST(it1.e_ppm AS BIGINT) AS e_ppm,
       |  CAST(it1.w AS BIGINT) AS w1, CAST(it2.w AS BIGINT) AS w2,
       |  CAST(it3.w AS BIGINT) AS w3
       |FROM it1 JOIN it2 USING (source) JOIN it3 USING (source)
       |ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q330 — LEAVE-ONE-OUT SOURCE CONTRIBUTION: what happens to corpus
  // length and unigram diversity when each source is dropped — computed
  // by SUFFICIENT-STATISTIC SUBTRACTION (global sums minus per-source
  // sums; sole-source token types from a per-type source count), so the
  // 20 ablations cost ONE corpus pass instead of 20 rescans. The
  // "which scrape is pulling its weight" readout mixture planning runs
  // before q329's reweighting.
  //
  // Scale: one tokenize pass → (type, source)-distinct aggregate →
  // per-type source counts; everything after is grid-sized. Exact
  // integers; LOO ratios are BIGINT floor-divs.
  def looSourceStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), explode(TextOps.toks).as("w"))
    val src = toks.groupBy(col("source")).agg(count(lit(1)).as("tok"))
      .join(docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs")), Seq("source"))
    val typeSrc = toks.select(col("source"), col("w")).distinct()
    val soleTypes = typeSrc
      .withColumn("nsrc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w"))))
      .filter(col("nsrc") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("uniq_types"))
    val g = src.agg(sum(col("tok")).as("gt"), sum(col("n_docs")).as("gn"))
      .crossJoin(broadcast(
        typeSrc.select(col("w")).distinct().agg(count(lit(1)).as("gv"))))
    src.join(soleTypes, Seq("source"), "left")
      .withColumn("uniq_types", coalesce(col("uniq_types"), lit(0L)))
      .crossJoin(broadcast(g))
      .select(col("source"), col("n_docs"), col("tok"), col("uniq_types"),
        expr("case when gn = n_docs then null else " +
          "(1000000L * (gt - tok)) div (gn - n_docs) end").as("loo_mean_tok_ppm"),
        expr("(1000000L * gv) div gt").as("d1_ppm"),
        expr("case when gt = tok then null else " +
          "(1000000L * (gv - uniq_types)) div (gt - tok) end").as("loo_d1_ppm"),
        expr("case when gt = tok then null else " +
          "(1000000L * (gv - uniq_types)) div (gt - tok) - (1000000L * gv) div gt end")
          .as("delta_d1_ppm"))
      .orderBy(col("source"))
  }

  def q330LooSourceStats(spark: SparkSession, dir: String): DataFrame =
    looSourceStats(Tables.documents(spark, dir))

  val q330Sql: String = {
    val toks = TextOps.toksSqlD
    s"""WITH tk AS (
       |  SELECT source, UNNEST(t) AS w
       |  FROM (SELECT source, $toks AS t FROM documents)),
       |src AS (
       |  SELECT source, COUNT(*) AS tok FROM tk GROUP BY 1),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |ts AS (SELECT DISTINCT source, w FROM tk),
       |sole AS (
       |  SELECT source, COUNT(*) AS uniq_types FROM (
       |    SELECT source, w, COUNT(*) OVER (PARTITION BY w) AS nsrc FROM ts)
       |  WHERE nsrc = 1 GROUP BY 1),
       |g AS (
       |  SELECT (SELECT SUM(tok) FROM src) AS gt,
       |    (SELECT SUM(n_docs) FROM nd) AS gn,
       |    (SELECT COUNT(DISTINCT w) FROM ts) AS gv)
       |SELECT src.source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(tok AS BIGINT) AS tok,
       |  CAST(COALESCE(uniq_types, 0) AS BIGINT) AS uniq_types,
       |  CASE WHEN gn = n_docs THEN NULL
       |    ELSE CAST((1000000 * (gt - tok)) // (gn - n_docs) AS BIGINT)
       |  END AS loo_mean_tok_ppm,
       |  CAST((1000000 * gv) // gt AS BIGINT) AS d1_ppm,
       |  CASE WHEN gt = tok THEN NULL
       |    ELSE CAST((1000000 * (gv - COALESCE(uniq_types, 0))) // (gt - tok)
       |      AS BIGINT) END AS loo_d1_ppm,
       |  CASE WHEN gt = tok THEN NULL
       |    ELSE CAST((1000000 * (gv - COALESCE(uniq_types, 0))) // (gt - tok)
       |      - (1000000 * gv) // gt AS BIGINT) END AS delta_d1_ppm
       |FROM src JOIN nd USING (source)
       |LEFT JOIN sole USING (source)
       |CROSS JOIN g
       |ORDER BY source""".stripMargin
  }

  private val catalogL: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q329_mixture_reweight", q329MixtureReweight _, Some(q329Sql)),
    ("q330_loo_source_stats", q330LooSourceStats _, Some(q330Sql)))

  // ═════════════════ formerly Round8mOps ═════════════════
  /** Round-8 thirteenth operator batch: dedup saturation and order-
    * insensitive duplicate detection — corpus-growth planning readouts on
    * the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q331 — DEDUP SATURATION CURVE: duplicate rate over ingestion-id
  // prefixes (¼, ½, ¾, full id range) — "does scraping more still yield
  // new content", the marginal-value curve that decides when to stop
  // collecting. A text counts as new at its FIRST occurrence id; each
  // prefix reports docs, distinct texts and dup_ppm, all exact.
  //
  // Scale: one md5 groupBy for first occurrences, then each side
  // aggregates against a broadcast 4-row threshold grid (value-range
  // prefixes from a 1-row min/max — no global rank, no sort).
  def dedupSaturation(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val fo = ids.groupBy(col("h")).agg(min(col("doc_id")).as("fo"))
    val bounds = ids.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val grid = bounds.select(explode(expr(
      "transform(sequence(1, 4), k -> named_struct('k', cast(k as long), " +
        "'t', lo + ((hi - lo + 1L) * k) div 4L - 1L))")).as("g"))
      .select(col("g.k").as("k"), col("g.t").as("t"))
    val d = ids.crossJoin(broadcast(grid)).filter(col("doc_id") <= col("t"))
      .groupBy(col("k"), col("t")).agg(count(lit(1)).as("docs"))
    val u = fo.crossJoin(broadcast(grid)).filter(col("fo") <= col("t"))
      .groupBy(col("k")).agg(count(lit(1)).as("distinct_texts"))
    d.join(u, Seq("k"))
      .select(col("k").as("prefix_quarter"), col("t").as("max_doc_id"),
        col("docs"), col("distinct_texts"),
        expr("1000000L - (1000000L * distinct_texts) div docs").as("dup_ppm"))
      .orderBy(col("prefix_quarter"))
  }

  def q331DedupSaturation(spark: SparkSession, dir: String): DataFrame =
    dedupSaturation(Tables.documents(spark, dir))

  val q331Sql: String =
    """WITH ids AS (SELECT doc_id, md5(text) AS h FROM documents),
      |fo AS (SELECT h, MIN(doc_id) AS fo FROM ids GROUP BY 1),
      |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM ids),
      |grid AS (
      |  SELECT k, lo + ((hi - lo + 1) * k) // 4 - 1 AS t
      |  FROM b, UNNEST(generate_series(1, 4)) AS s(k)),
      |d AS (
      |  SELECT k, t, COUNT(*) AS docs
      |  FROM ids CROSS JOIN grid WHERE doc_id <= t GROUP BY 1, 2),
      |u AS (
      |  SELECT k, COUNT(*) AS distinct_texts
      |  FROM fo CROSS JOIN grid WHERE fo <= t GROUP BY 1)
      |SELECT CAST(k AS BIGINT) AS prefix_quarter, CAST(t AS BIGINT) AS max_doc_id,
      |  docs, distinct_texts,
      |  CAST(1000000 - (1000000 * distinct_texts) // docs AS BIGINT) AS dup_ppm
      |FROM d JOIN u USING (k)
      |ORDER BY prefix_quarter""".stripMargin

  // --------------------------------------------------------------------------
  // q332 — TOKEN-SET DEDUP GROUPS: duplicate groups keyed by the
  // distinct-token SET (md5 of the sorted deduped token array), with
  // multiset (bag) and byte-text sub-counts — the order- and
  // repetition-insensitive family detector that catches shuffled and
  // padded template pages q30's exact hash misses. n_bags > 1 = members
  // differ by token counts (template family); n_texts > n_bags = pure
  // reorders of the same multiset.
  //
  // Scale: both canonical keys are ROW-LOCAL (sort within the doc, never
  // a corpus sort); one hash groupBy on the set digest. Token strings
  // are ASCII-lowercase, so Spark's sort_array and the oracle's
  // list_sort agree bytewise.
  def tokenSetGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("th"),
        md5(concat_ws(" ", sort_array(TextOps.toks))).as("bag"),
        md5(concat_ws(" ", sort_array(array_distinct(TextOps.toks)))).as("tset"))
      .groupBy(col("tset"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"),
        countDistinct(col("th")).as("n_texts"),
        countDistinct(col("bag")).as("n_bags"))
      .filter(col("n_docs") >= 2)
      .select(col("keep_id"), col("n_docs"), col("n_texts"), col("n_bags"))
      .orderBy(col("keep_id"))

  def q332TokenSetGroups(spark: SparkSession, dir: String): DataFrame =
    tokenSetGroups(Tables.documents(spark, dir))

  val q332Sql: String = {
    val toks = TextOps.toksSqlD
    s"""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT md5(text)) AS n_texts,
       |  COUNT(DISTINCT bag) AS n_bags
       |FROM (SELECT doc_id, text,
       |        md5(array_to_string(list_sort($toks), ' ')) AS bag,
       |        md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS tset
       |      FROM documents)
       |GROUP BY tset HAVING COUNT(*) >= 2
       |ORDER BY keep_id""".stripMargin
  }

  private val catalogM: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q331_dedup_saturation", q331DedupSaturation _, Some(q331Sql)),
    ("q332_token_set_groups", q332TokenSetGroups _, Some(q332Sql)))

  // ═════════════════ formerly Round8oOps ═════════════════
  /** Round-8 fifteenth operator batch: the n-gram novelty curve and
    * Zipf vocabulary-coverage sizing — LM-data memorization and tokenizer
    * planning readouts on the §8.4 exact-integer discipline.
    */

  private def gramCol(n: Int): org.apache.spark.sql.Column =
    if (n == 1) explode(col("t"))
    else explode(expr(
      s"transform(sequence(1, size(t) - ${n - 1}), i -> " +
        (1 to n).map(j => s"element_at(t, cast(i as int) + ${j - 1})")
          .mkString("concat_ws(' ', ", ", ", ")") + ")"))

  private def gramSql(n: Int): String =
    if (n == 1) "UNNEST(t)"
    else (1 to n).map(j => s"t[i+${j - 1}]").mkString(" || ' ' || ")

  // --------------------------------------------------------------------------
  // q335 — N-GRAM NOVELTY CURVE: for the held-out eval slice
  // (doc_id % 50 == 0), the fraction of n-gram OCCURRENCES (n = 1..5)
  // absent from the train split's n-gram vocabulary — the "% novel
  // n-grams" curve LM data papers publish to bound surface-level
  // memorization. q327 reads the per-doc 3-gram distribution; this is
  // the aggregate curve across n. All counts and novel_ppm exact.
  //
  // Scale: per n, one explode on each side and one vocabulary semi-join
  // keyed by gram — five linear passes; at 100 TB the train vocabulary
  // side takes a bloom/stop-gram cap (q194/q176's guards).
  def noveltyCurve(docs: DataFrame, maxN: Int): DataFrame = {
    val t = docs.select(col("doc_id"), TextOps.toks.as("t"))
    val perN = (1 to maxN).map { n =>
      val grams = t.filter(size(col("t")) >= n)
        .select(col("doc_id"), gramCol(n).as("g"))
      val tv = grams.filter(col("doc_id") % 50 =!= 0).select(col("g")).distinct()
      grams.filter(col("doc_id") % 50 === 0)
        .join(tv.withColumn("hit", lit(1L)), Seq("g"), "left")
        .agg(lit(n.toLong).as("n"), count(lit(1)).as("eval_grams"),
          coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("covered"))
    }
    perN.reduce(_ unionByName _)
      .select(col("n"), col("eval_grams"), col("covered"),
        expr("case when eval_grams = 0L then null " +
          "else 1000000L - (1000000L * covered) div eval_grams end").as("novel_ppm"))
      .orderBy(col("n"))
  }

  def q335NoveltyCurve(spark: SparkSession, dir: String): DataFrame =
    noveltyCurve(Tables.documents(spark, dir), maxN = 5)

  val q335Sql: String = {
    val toks = TextOps.toksSqlD
    def one(n: Int): String = {
      val from =
        if (n == 1) s"SELECT doc_id, UNNEST(t) AS g FROM tt WHERE len(t) >= 1"
        else s"""SELECT doc_id, ${gramSql(n)} AS g
                |        FROM tt, UNNEST(generate_series(1, len(t) - ${n - 1})) AS s(i)
                |        WHERE len(t) >= $n""".stripMargin
      s"""SELECT $n AS n, COUNT(*) AS eval_grams,
         |  SUM(CASE WHEN g IN (
         |    SELECT g FROM ($from) WHERE doc_id % 50 <> 0)
         |    THEN 1 ELSE 0 END) AS covered
         |FROM ($from) WHERE doc_id % 50 = 0""".stripMargin
    }
    s"""WITH tt AS (SELECT doc_id, $toks AS t FROM documents),
       |u AS (${(1 to 5).map(one).mkString("\n|UNION ALL\n|")})
       |SELECT CAST(n AS BIGINT) AS n, eval_grams,
       |  CAST(COALESCE(covered, 0) AS BIGINT) AS covered,
       |  CASE WHEN eval_grams = 0 THEN NULL
       |    ELSE CAST(1000000 - (1000000 * COALESCE(covered, 0)) // eval_grams
       |      AS BIGINT) END AS novel_ppm
       |FROM u ORDER BY n""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q336 — VOCABULARY COVERAGE SIZING: the minimal vocabulary (types
  // taken in frequency-descending order) covering 90/95/99% of token
  // occurrences — the tokenizer-capacity readout. Runs on the
  // COUNT-OF-COUNTS grid (q302's shape): within a frequency class types
  // are interchangeable, so the minimal size is the previous classes'
  // vocab plus an exact ceil-div of the remaining need — every cell an
  // exact integer.
  //
  // Scale: one token count pass → count-of-counts aggregate; cum sums
  // are windows over the distinct-frequency grid (bounded far below the
  // corpus, q302's argument); targets are a broadcast 3-row grid.
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val freq = docs.select(explode(TextOps.toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val coc = freq.groupBy(col("f")).agg(count(lit(1)).as("n_types"))
    val wDesc = Window.orderBy(col("f").desc)
    val grid = coc
      .withColumn("cum_cov", sum(col("f") * col("n_types"))
        .over(wDesc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_vocab", sum(col("n_types"))
        .over(wDesc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev_cov", coalesce(sum(col("f") * col("n_types"))
        .over(wDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_vocab", coalesce(sum(col("n_types"))
        .over(wDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = freq.agg(sum(col("f")).as("tt"))
    val targets = tot.select(explode(expr(
      "transform(array(90L, 95L, 99L), p -> named_struct('pct', p, 'need', p * tt))"))
      .as("g"), col("tt"))
      .select(col("g.pct").as("pct"), col("g.need").as("need"), col("tt"))
    grid.crossJoin(broadcast(targets))
      .filter(col("cum_cov") * 100 >= col("need") &&
        col("prev_cov") * 100 < col("need"))
      .select(col("pct").as("target_pct"), col("f").as("crossing_freq"),
        (col("prev_vocab") +
          expr("(need - 100L * prev_cov + 100L * f - 1L) div (100L * f)"))
          .as("vocab_size"),
        expr("(1000000L * (prev_cov + " +
          "((need - 100L * prev_cov + 100L * f - 1L) div (100L * f)) * f)) div tt")
          .as("achieved_cov_ppm"))
      .orderBy(col("target_pct"))
  }

  def q336VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir))

  val q336Sql: String = {
    val toks = TextOps.toksSqlD
    s"""WITH w AS (
       |  SELECT UNNEST(t) AS w FROM (SELECT $toks AS t FROM documents)),
       |freq AS (SELECT w, COUNT(*) AS f FROM w GROUP BY 1),
       |coc AS (SELECT f, COUNT(*) AS n_types FROM freq GROUP BY 1),
       |grid AS (
       |  SELECT f, n_types,
       |    SUM(f * n_types) OVER (ORDER BY f DESC ROWS UNBOUNDED PRECEDING)
       |      AS cum_cov,
       |    COALESCE(SUM(f * n_types) OVER (ORDER BY f DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cov,
       |    COALESCE(SUM(n_types) OVER (ORDER BY f DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_vocab
       |  FROM coc),
       |t AS (SELECT SUM(f) AS tt FROM freq),
       |tg AS (
       |  SELECT p AS pct, p * tt AS need, tt
       |  FROM t, UNNEST([90, 95, 99]) AS u(p))
       |SELECT CAST(pct AS BIGINT) AS target_pct, CAST(f AS BIGINT) AS crossing_freq,
       |  CAST(prev_vocab + (need - 100 * prev_cov + 100 * f - 1) // (100 * f)
       |    AS BIGINT) AS vocab_size,
       |  CAST((1000000 * (prev_cov +
       |    ((need - 100 * prev_cov + 100 * f - 1) // (100 * f)) * f)) // tt
       |    AS BIGINT) AS achieved_cov_ppm
       |FROM grid CROSS JOIN tg
       |WHERE cum_cov * 100 >= need AND prev_cov * 100 < need
       |ORDER BY target_pct""".stripMargin
  }

  private val catalogO: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q335_novelty_curve", q335NoveltyCurve _, Some(q335Sql)),
    ("q336_vocab_coverage", q336VocabCoverage _, Some(q336Sql)))

  // ═════════════════ formerly Round8anOps ═════════════════
  /** Round-8 fortieth operator batch: Hampel rolling-median anomaly
    * filter and a fixed-budget OOV audit — robust series monitoring and
    * tokenizer-coverage governance on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q385 — HAMPEL FILTER: q344's EWMA bands are mean-based and a
  // single spike drags them; the Hampel filter scores each day against
  // the MEDIAN of its ±3-day window with the window's median absolute
  // deviation — both exact integers from sorting the 7-value window
  // array row-locally (no float, no approx percentile). Ships the
  // top-10 days by |x − med| with the 3·MAD exceedance flag (MAD
  // floored at 1 so a flat window cannot divide the verdict away).
  //
  // Scale: the corpus collapses to the calendar grid; the ±3 window
  // and the array sorts are grid-local.
  def hampel(orders: DataFrame): DataFrame = {
    val daily = orders.groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("d")).rowsBetween(-3, 3)
    daily
      .withColumn("arr", collect_list(col("x")).over(w))
      .filter(size(col("arr")) === 7)
      .withColumn("med", expr("element_at(array_sort(arr), 4)"))
      .withColumn("mad", expr(
        "element_at(array_sort(transform(arr, v -> abs(v - med))), 4)"))
      .withColumn("dev", abs(col("x") - col("med")))
      .withColumn("flagged", col("dev") > greatest(lit(3L) * col("mad"), lit(1L)))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("x"),
        col("med"), col("mad"), col("dev"), col("flagged"))
      .orderBy(col("dev").desc, col("day"))
      .limit(10)
  }

  def q385Hampel(spark: SparkSession, dir: String): DataFrame =
    hampel(Tables.orders(spark, dir))

  val q385Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |win AS (
      |  SELECT d, x, list(x) OVER (ORDER BY d
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
      |  FROM daily),
      |scored AS (
      |  SELECT d, x,
      |    list_sort(arr)[4] AS med,
      |    list_sort(list_transform(arr, v -> abs(v - list_sort(arr)[4])))[4]
      |      AS mad,
      |    abs(x - list_sort(arr)[4]) AS dev
      |  FROM win WHERE len(arr) = 7)
      |SELECT STRFTIME(d, '%Y-%m-%d') AS day, x, CAST(med AS BIGINT) AS med,
      |  CAST(mad AS BIGINT) AS mad, CAST(dev AS BIGINT) AS dev,
      |  dev > GREATEST(3 * mad, 1) AS flagged
      |FROM scored ORDER BY dev DESC, day LIMIT 10""".stripMargin

  // --------------------------------------------------------------------------
  // q386 — FIXED-BUDGET OOV AUDIT: given a 32768-type vocabulary
  // budget, which sources fall off it? The vocabulary is the
  // frequency-threshold crossing — the smallest f* whose f ≥ f* type
  // count fits the budget, read off the COUNT-OF-COUNTS cumulative
  // grid (bounded far below the corpus, q302's class; actual size ≤
  // budget by construction — the threshold rule, no per-type global
  // rank anywhere). Per source: token occurrences whose type sits
  // below f* as exact ppm — the domain-shift readout q336 (global
  // sizing) and q360 (diversity) don't give.
  //
  // Scale: one global type-count pass, a count-of-counts cum grid, a
  // broadcast f* row, one (source, type) aggregate semi-filtered on
  // the broadcast threshold.
  def oovAudit(docs: DataFrame, budget: Long): DataFrame = {
    val freq = docs.select(col("source"), explode(TextOps.toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val coc = freq.groupBy(col("f")).agg(count(lit(1)).as("vm"))
      .withColumn("cum_ge", sum(col("vm")).over(
        Window.orderBy(col("f").desc).rowsBetween(Window.unboundedPreceding, 0)))
    val fstar = coc.filter(col("cum_ge") <= budget)
      .agg(min(col("f")).as("f_min"), max(col("cum_ge")).as("vocab_size"))
    val srcTok = docs.select(col("source"), explode(TextOps.toks).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("sf"))
      .join(freq, Seq("w"))
      .crossJoin(broadcast(fstar))
    srcTok.groupBy(col("source"))
      .agg(sum(col("sf")).as("n_tokens"),
        sum(when(col("f") < col("f_min"), col("sf")).otherwise(0L))
          .as("oov_tokens"),
        first(col("f_min")).as("vocab_f_min"),
        first(col("vocab_size")).as("vocab_size"))
      .withColumn("oov_ppm", expr("(1000000L * oov_tokens) div n_tokens"))
      .orderBy(col("source"))
  }

  def q386OovAudit(spark: SparkSession, dir: String): DataFrame =
    oovAudit(Tables.documents(spark, dir), budget = 32768L)

  val q386Sql: String =
    s"""WITH tok AS (
       |  SELECT source, UNNEST(t) AS w
       |  FROM (SELECT source, ${TextOps.toksSqlD} AS t FROM documents)),
       |freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY 1),
       |coc AS (
       |  SELECT f, SUM(vm) OVER (ORDER BY f DESC ROWS UNBOUNDED PRECEDING)
       |    AS cum_ge
       |  FROM (SELECT f, COUNT(*) AS vm FROM freq GROUP BY 1)),
       |fstar AS (
       |  SELECT MIN(f) AS f_min, MAX(cum_ge) AS vocab_size
       |  FROM coc WHERE cum_ge <= 32768),
       |src AS (
       |  SELECT source, w, COUNT(*) AS sf FROM tok GROUP BY 1, 2)
       |SELECT source, CAST(SUM(sf) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN f < f_min THEN sf ELSE 0 END) AS BIGINT)
       |    AS oov_tokens,
       |  CAST(ANY_VALUE(f_min) AS BIGINT) AS vocab_f_min,
       |  CAST(ANY_VALUE(vocab_size) AS BIGINT) AS vocab_size,
       |  CAST((1000000 * SUM(CASE WHEN f < f_min THEN sf ELSE 0 END))
       |    // SUM(sf) AS BIGINT) AS oov_ppm
       |FROM src JOIN freq USING (w), fstar
       |GROUP BY source ORDER BY source""".stripMargin

  private val catalogAn: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q385_hampel_filter", q385Hampel _, Some(q385Sql)),
    ("q386_oov_audit", q386OovAudit _, Some(q386Sql)))

  // ═════════════════ formerly Round8auOps ═════════════════
  /** Round-8 forty-seventh operator batch: boilerplate template census
    * and price-endings forensic — cross-doc template detection and
    * digit-distribution auditing on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q399 — TEMPLATE CENSUS: boilerplate generators leave families of
  // documents sharing an identical opening; grouping on the exact
  // first-8-token key finds them without any similarity join at all —
  // the cheapest dedup signal in the stack (q73 sees WITHIN-doc
  // repetition, q371 tail→head continuation, q31 fuzzy pairs; this is
  // the exact-prefix family detector). Ships the top-15 template
  // families (size, distinct sources, share of the eligible corpus)
  // plus the family-count census columns on every row.
  //
  // Scale: one row-local prefix key + two hash aggregates; never a
  // pair join.
  def templateCensus(docs: DataFrame, minFamily: Long): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
        TextOps.toks.as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("source"),
        expr("array_join(slice(t, 1, 8), ' ')").as("tpl"))
      .localCheckpoint()
    val fams = keyed.groupBy(col("tpl"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
    val census = fams.agg(sum(col("n_docs")).as("n_eligible"),
      count_if(col("n_docs") >= minFamily).as("n_families"),
      sum(when(col("n_docs") >= minFamily, col("n_docs")).otherwise(0L))
        .as("docs_in_families"))
    fams.filter(col("n_docs") >= minFamily)
      .crossJoin(broadcast(census))
      .withColumn("share_ppm", expr("(1000000L * n_docs) div n_eligible"))
      .orderBy(col("n_docs").desc, col("tpl"))
      .limit(15)
      .select(col("tpl"), col("n_docs"), col("n_sources"), col("share_ppm"),
        col("n_eligible"), col("n_families"), col("docs_in_families"))
  }

  def q399TemplateCensus(spark: SparkSession, dir: String): DataFrame =
    templateCensus(Tables.documents(spark, dir), minFamily = 2L)

  val q399Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, source, array_to_string(list_slice(t, 1, 8), ' ')
       |    AS tpl
       |  FROM (SELECT doc_id, source, ${TextOps.toksSqlD} AS t FROM documents)
       |  WHERE len(t) >= 8),
       |fams AS (
       |  SELECT tpl, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT source) AS n_sources
       |  FROM keyed GROUP BY 1),
       |census AS (
       |  SELECT SUM(n_docs) AS n_eligible,
       |    COUNT(*) FILTER (n_docs >= 2) AS n_families,
       |    SUM(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END)
       |      AS docs_in_families
       |  FROM fams)
       |SELECT tpl, n_docs, CAST(n_sources AS BIGINT) AS n_sources,
       |  CAST((1000000 * n_docs) // n_eligible AS BIGINT) AS share_ppm,
       |  CAST(n_eligible AS BIGINT) AS n_eligible,
       |  CAST(n_families AS BIGINT) AS n_families,
       |  CAST(docs_in_families AS BIGINT) AS docs_in_families
       |FROM fams, census WHERE n_docs >= 2
       |ORDER BY n_docs DESC, tpl LIMIT 15""".stripMargin

  // --------------------------------------------------------------------------
  // q400 — PRICE-ENDINGS FORENSIC: q151 audits the FIRST digit
  // (Benford); synthetic or manipulated price columns also betray
  // themselves in their LAST digits — the cents ending should be
  // near-uniform over 00..99 for organic prices. Ships the top-10
  // endings by count and the whole-distribution χ² vs uniform via the
  // observed-cells identity (10⁶·Σ obs²·k) div N − 10⁶·N-style exact
  // floors (q370's sign-safe form, k = 100 cells, uniform margins make
  // it one term per cell: χ² = (100·Σobs²)/N − N).
  //
  // Scale: one row-local modulus + a ≤100-cell aggregate.
  def priceEndings(orders: DataFrame): DataFrame = {
    val cell = orders.select(
        pmod(expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)"),
          lit(100L)).as("ending"))
      .groupBy(col("ending")).agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val chi = cell.agg(sum(col("obs")).as("n"),
        count(lit(1)).as("k_present"),
        sum(expr("cast(obs as decimal(38,0)) * obs")).as("q2"))
      .select(col("n"), col("k_present"),
        expr("""cast((cast(1000000 as decimal(38,0)) * 100L * q2) div n
               | - cast(1000000 as decimal(38,0)) * n as bigint)"""
          .stripMargin).as("chi2_ppm"))
    cell.crossJoin(broadcast(chi))
      .withColumn("share_ppm", expr("(1000000L * obs) div n"))
      .orderBy(col("obs").desc, col("ending"))
      .limit(10)
      .select(col("ending"), col("obs"), col("share_ppm"), col("n"),
        col("k_present"), col("chi2_ppm"))
  }

  def q400PriceEndings(spark: SparkSession, dir: String): DataFrame =
    priceEndings(Tables.orders(spark, dir))

  val q400Sql: String =
    """WITH cell AS (
      |  SELECT ((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) % 100)
      |    + 100) % 100 AS ending, COUNT(*) AS obs
      |  FROM orders GROUP BY 1),
      |chi AS (
      |  SELECT SUM(obs) AS n, COUNT(*) AS k_present,
      |    CAST((1000000::HUGEINT * 100 * SUM(obs::HUGEINT * obs)) // SUM(obs)
      |      - 1000000::HUGEINT * SUM(obs) AS BIGINT) AS chi2_ppm
      |  FROM cell)
      |SELECT ending, obs, CAST((1000000 * obs) // n AS BIGINT) AS share_ppm,
      |  CAST(n AS BIGINT) AS n, k_present, chi2_ppm
      |FROM cell, chi ORDER BY obs DESC, ending LIMIT 10""".stripMargin

  private val catalogAu: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q399_template_census", q399TemplateCensus _, Some(q399Sql)),
    ("q400_price_endings", q400PriceEndings _, Some(q400Sql)))

  // ═════════════════ round-9 batch (q407–q410) ═════════════════
  // Corpus-hygiene quartet a pre-training data pipeline runs before
  // committing compute: intra-document repetition (the Gopher-class
  // repetition filters), exact-duplicate token-mass inflation, n-gram
  // eval contamination, and post-dedup marginal token yield per source.
  // All integer-exact (counts and floor-div ppm shares), all one
  // row-local n-gram expansion + hash aggregates — corpus-linear.

  // --------------------------------------------------------------------------
  // q407 — INTRA-DOCUMENT REPETITION AUDIT (Gopher-style): per document,
  // the duplicated-bigram fraction (1 − distinct/total) and the top
  // bigram's share of all bigram slots; reported per source as exact ppm
  // plus the count of high-repetition documents (top share ≥ 20%) — the
  // filter that drops boilerplate-looped documents before training.
  //
  // Scale: one row-local bigram expansion (non-distinct — repetition IS
  // the signal), two hash aggregates ((doc, gram) then doc), one per
  // source. Docs with < 2 tokens have no bigram slots and are excluded
  // deterministically.
  def repetitionAudit(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("source"), col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t != '')").as("t"))
      .select(col("source"), col("doc_id"), explode(expr(
        """if(size(t) >= 2,
          |   transform(sequence(0, size(t) - 2),
          |     i -> concat_ws(' ', t[i], t[i+1])),
          |   array())""".stripMargin)).as("g"))
    val perGram = bg.groupBy(col("source"), col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
    val perDoc = perGram.groupBy(col("source"), col("doc_id"))
      .agg(sum(col("c")).as("n_bg"), count(lit(1)).as("d_bg"),
        max(col("c")).as("top_c"))
      .select(col("source"),
        expr("1000000L - (1000000L * d_bg) div n_bg").as("dup_ppm"),
        expr("(1000000L * top_c) div n_bg").as("top_ppm"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(dup_ppm) div count(1)").as("avg_dup_ppm"),
        expr("sum(top_ppm) div count(1)").as("avg_top_ppm"),
        count_if(col("top_ppm") >= 200000L).as("high_rep_docs"))
      .orderBy(col("source"))
  }

  def q407RepetitionAudit(spark: SparkSession, dir: String): DataFrame =
    repetitionAudit(Tables.documents(spark, dir))

  val q407Sql: String =
    s"""WITH bg AS (
       |  SELECT source, doc_id, t[i] || ' ' || t[i+1] AS g
       |  FROM (SELECT source, doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
       |pg AS (SELECT source, doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
       |pd AS (
       |  SELECT source,
       |    1000000 - (1000000 * COUNT(*)) // SUM(c) AS dup_ppm,
       |    (1000000 * MAX(c)) // SUM(c) AS top_ppm
       |  FROM pg GROUP BY source, doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(dup_ppm) // COUNT(*) AS BIGINT) AS avg_dup_ppm,
       |  CAST(SUM(top_ppm) // COUNT(*) AS BIGINT) AS avg_top_ppm,
       |  CAST(COUNT(*) FILTER (top_ppm >= 200000) AS BIGINT) AS high_rep_docs
       |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q408 — DUPLICATE TOKEN-MASS INFLATION: histogram of token mass by
  // exact-duplicate multiplicity k — "how many tokens would training see
  // k times", the compute-waste ledger exact dedup saves (complement of
  // q331's saturation curve, which tracks doc counts over ingestion
  // prefixes; this tracks TOKEN mass by copy depth). wasted = (k−1)/k of
  // each class's mass; all exact integers.
  //
  // Scale: one md5 groupBy (hash, token count row-local), one aggregate
  // over the multiplicity domain (tiny).
  def dupInflation(docs: DataFrame): DataFrame = {
    val perText = docs
      .select(md5(col("text")).as("h"),
        expr("size(filter(split(lower(text), ' '), t -> t != ''))")
          .cast("long").as("ntok"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("k"), first(col("ntok")).as("ntok"))
    perText.groupBy(col("k"))
      .agg(count(lit(1)).as("n_texts"),
        sum(col("ntok") * col("k")).as("token_mass"),
        sum(col("ntok") * (col("k") - 1L)).as("wasted_tokens"))
      .orderBy(col("k"))
  }

  def q408DupInflation(spark: SparkSession, dir: String): DataFrame =
    dupInflation(Tables.documents(spark, dir))

  val q408Sql: String =
    s"""WITH pt AS (
       |  SELECT md5(text) AS h, COUNT(*) AS k,
       |    CAST(ANY_VALUE(len(${TextOps.toksSqlD})) AS BIGINT) AS ntok
       |  FROM documents GROUP BY 1)
       |SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n_texts,
       |  CAST(SUM(ntok * k) AS BIGINT) AS token_mass,
       |  CAST(SUM(ntok * (k - 1)) AS BIGINT) AS wasted_tokens
       |FROM pt GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q409 — N-GRAM EVAL CONTAMINATION: the standard train/test overlap
  // metric — what fraction of the eval split's distinct word-5-grams
  // also appear anywhere in the train split (doc_id % 10 == 7 plays the
  // eval split, the deterministic stand-in for a held-out set). Reported
  // per eval language as exact ppm — doc-level dedup (q327's semi-join)
  // misses partial copies; 5-gram overlap is the finer-grained audit.
  //
  // Scale: one row-local 5-gram expansion per side, distinct hash
  // aggregates, one equi semi-join on the gram — corpus-linear.
  def ngramContamination(docs: DataFrame): DataFrame = {
    def grams(d: DataFrame) = d
      .select(col("lang"), col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t != '')").as("t"))
      .select(col("lang"), explode(expr(
        """if(size(t) >= 5,
          |   transform(sequence(0, size(t) - 5),
          |     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])),
          |   array())""".stripMargin)).as("g"))
    val ev = grams(docs.filter(col("doc_id") % 10 === 7))
      .select(col("lang"), col("g")).distinct()
    val tr = grams(docs.filter(col("doc_id") % 10 =!= 7))
      .select(col("g")).distinct()
    val hits = ev.join(tr, Seq("g"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("contaminated"))
    ev.groupBy(col("lang")).agg(count(lit(1)).as("eval_grams"))
      .join(hits, Seq("lang"), "left")
      .select(col("lang"), col("eval_grams"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"))
      .withColumn("contamination_ppm",
        expr("(1000000L * contaminated) div eval_grams"))
      .orderBy(col("lang"))
  }

  def q409NgramContamination(spark: SparkSession, dir: String): DataFrame =
    ngramContamination(Tables.documents(spark, dir))

  val q409Sql: String =
    s"""WITH g5 AS (
       |  SELECT lang, doc_id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |      || ' ' || t[i+4] AS g
       |  FROM (SELECT lang, doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 4)) AS u(i)),
       |ev AS (SELECT DISTINCT lang, g FROM g5 WHERE doc_id % 10 = 7),
       |tr AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 10 <> 7),
       |hits AS (
       |  SELECT lang, COUNT(*) AS contaminated
       |  FROM ev WHERE g IN (SELECT g FROM tr) GROUP BY 1)
       |SELECT e.lang, COUNT(*) AS eval_grams,
       |  CAST(COALESCE(ANY_VALUE(h.contaminated), 0) AS BIGINT) AS contaminated,
       |  CAST((1000000 * COALESCE(ANY_VALUE(h.contaminated), 0)) // COUNT(*)
       |    AS BIGINT) AS contamination_ppm
       |FROM ev e LEFT JOIN hits h ON e.lang = h.lang
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q438 — CONTAMINATION SOURCE ATTRIBUTION (round 11): q409 reports THAT
  // the eval split's 5-grams leak from the train split; this reports WHO
  // carries them — per train source: distinct contaminated eval-grams it
  // holds, train docs holding at least one, and coverage_ppm of the total
  // contaminated gram set. The decontamination WORKLIST: a source
  // covering 90% of the leakage is where the n-gram filter (q106's doc
  // drop, or surgical span removal) pays for itself; coverage overlaps
  // across sources by construction (the same gram can leak from several),
  // so the column sums past 1e6 — it ranks, it does not partition.
  //
  // Scale: q409's row-local 5-gram expansion per side, one semi-join of
  // the train gram stream against the (distinct, much smaller) eval gram
  // set, two distinct aggregates keyed by source — corpus-linear, never
  // a pair join.
  def q438ContaminationAttribution(spark: SparkSession, dir: String): DataFrame = {
    def grams(d: DataFrame) = d
      // the SHARED tokenizer (TextOps.toks ↔ toksSqlD): inlining the
      // expression here would silently diverge from the oracle if the
      // shared tokenization ever changes
      .select(col("source"), col("doc_id"), TextOps.toks.as("t"))
      .select(col("source"), col("doc_id"), explode(expr(
        """if(size(t) >= 5,
          |   transform(sequence(0, size(t) - 5),
          |     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])),
          |   array())""".stripMargin)).as("g"))
    val docs = Tables.documents(spark, dir)
    val ev = grams(docs.filter(col("doc_id") % 10 === 7))
      .select(col("g")).distinct()
    val trHits = grams(docs.filter(col("doc_id") % 10 =!= 7))
      .join(ev, Seq("g"), "left_semi")
      .localCheckpoint(false) // feeds the per-source aggregate AND the total
    val tot = trHits.agg(countDistinct(col("g")).as("contaminated_total"))
    trHits.groupBy(col("source"))
      .agg(countDistinct(col("g")).as("hit_grams"),
        countDistinct(col("doc_id")).as("hit_docs"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm",
        expr("(1000000L * hit_grams) div contaminated_total"))
      .select(col("source"), col("hit_grams"), col("hit_docs"),
        col("contaminated_total"), col("coverage_ppm"))
      .orderBy(col("source"))
  }

  val q438Sql: String =
    s"""WITH g5 AS (
       |  SELECT source, doc_id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |      || ' ' || t[i+4] AS g
       |  FROM (SELECT source, doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 4)) AS u(i)),
       |ev AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 10 = 7),
       |trh AS (
       |  SELECT source, doc_id, g FROM g5
       |  WHERE doc_id % 10 <> 7 AND g IN (SELECT g FROM ev)),
       |tot AS (SELECT COUNT(DISTINCT g) AS contaminated_total FROM trh)
       |SELECT source,
       |  COUNT(DISTINCT g) AS hit_grams,
       |  COUNT(DISTINCT doc_id) AS hit_docs,
       |  CAST(ANY_VALUE(contaminated_total) AS BIGINT) AS contaminated_total,
       |  CAST((1000000 * COUNT(DISTINCT g)) // ANY_VALUE(contaminated_total)
       |    AS BIGINT) AS coverage_ppm
       |FROM trh CROSS JOIN tot
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // q410 — POST-DEDUP TOKEN YIELD PER SOURCE: after exact dedup with a
  // min-doc_id keep policy, how many of each source's tokens survive —
  // "who contributes unique data vs re-crawls" (the survivor counts are
  // q152's policy applied corpus-wide; the ledger here is token mass,
  // the unit compute budgets are written in).
  //
  // Scale: one md5 groupBy for keepers, one equi semi-join back on
  // (hash, doc_id), hash aggregates per source.
  def tokenYield(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"), col("doc_id"),
      md5(col("text")).as("h"),
      expr("size(filter(split(lower(text), ' '), t -> t != ''))")
        .cast("long").as("ntok"))
      .localCheckpoint(false) // feeds keeper derivation AND both ledgers
    val keep = base.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val kept = base.join(keep, Seq("h", "doc_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("ntok")).as("kept_tokens"))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("tokens"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("docs"), col("tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .withColumn("yield_ppm", expr("(1000000L * kept_tokens) div tokens"))
      .orderBy(col("source"))
  }

  def q410TokenYield(spark: SparkSession, dir: String): DataFrame =
    tokenYield(Tables.documents(spark, dir))

  val q410Sql: String =
    s"""WITH base AS (
       |  SELECT source, doc_id, md5(text) AS h,
       |    CAST(len(${TextOps.toksSqlD}) AS BIGINT) AS ntok
       |  FROM documents),
       |keep AS (SELECT h, MIN(doc_id) AS doc_id FROM base GROUP BY 1),
       |kept AS (
       |  SELECT source, COUNT(*) AS kept_docs, SUM(ntok) AS kept_tokens
       |  FROM base JOIN keep USING (h, doc_id)
       |  GROUP BY 1)
       |SELECT b.source, COUNT(*) AS docs, CAST(SUM(b.ntok) AS BIGINT) AS tokens,
       |  CAST(COALESCE(ANY_VALUE(k.kept_docs), 0) AS BIGINT) AS kept_docs,
       |  CAST(COALESCE(ANY_VALUE(k.kept_tokens), 0) AS BIGINT) AS kept_tokens,
       |  CAST((1000000 * COALESCE(ANY_VALUE(k.kept_tokens), 0)) // SUM(b.ntok)
       |    AS BIGINT) AS yield_ppm
       |FROM base b LEFT JOIN kept k ON b.source = k.source
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q413 — CONTEXT-WINDOW TRUNCATION AUDIT: for candidate sequence caps
  // L ∈ {16, 32, 64} tokens, how many documents exceed L and what share
  // of the corpus token mass a hard truncation at L discards — the
  // data-driven cap/packing decision (pair of q285's packer: that
  // optimizes placement GIVEN a cap, this prices the cap itself).
  // All exact integers: Σ min(ntok, L) per cut, loss in floor-div ppm.
  //
  // Scale: one row-local token count, one broadcast 3-row cut grid,
  // one hash aggregate per cut.
  def truncationAudit(docs: DataFrame, cuts: Seq[Long]): DataFrame = {
    val t = docs.select(
      expr("size(filter(split(lower(text), ' '), t -> t != ''))")
        .cast("long").as("ntok"))
    val grid = docs.sparkSession.range(1)
      .select(explode(array(cuts.map(lit): _*)).as("cut"))
    t.crossJoin(broadcast(grid))
      .groupBy(col("cut"))
      .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("tokens"),
        count_if(col("ntok") > col("cut")).as("docs_truncated"),
        sum(least(col("ntok"), col("cut"))).as("tokens_kept"))
      .withColumn("loss_ppm",
        expr("1000000L - (1000000L * tokens_kept) div tokens"))
      .orderBy(col("cut"))
  }

  def q413TruncationAudit(spark: SparkSession, dir: String): DataFrame =
    truncationAudit(Tables.documents(spark, dir), Seq(16L, 32L, 64L))

  val q413Sql: String =
    s"""WITH t AS (
       |  SELECT CAST(len(${TextOps.toksSqlD}) AS BIGINT) AS ntok FROM documents),
       |g AS (SELECT UNNEST([16, 32, 64]) AS cut)
       |SELECT CAST(cut AS BIGINT) AS cut, COUNT(*) AS docs,
       |  CAST(SUM(ntok) AS BIGINT) AS tokens,
       |  CAST(COUNT(*) FILTER (ntok > cut) AS BIGINT) AS docs_truncated,
       |  CAST(SUM(LEAST(ntok, cut)) AS BIGINT) AS tokens_kept,
       |  CAST(1000000 - (1000000 * SUM(LEAST(ntok, cut))) // SUM(ntok)
       |    AS BIGINT) AS loss_ppm
       |FROM t CROSS JOIN g GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q416 — TOKEN-MASS CONCENTRATION (Gini) PER SOURCE: does 10% of a
  // source's documents carry most of its token mass? Gini from the exact
  // rank identity G_ppm = (2·Σ i·x_(i) − (n+1)·Σx) · 10⁶ div (n·Σx) over
  // token counts sorted ascending (ties broken by doc_id so the rank
  // assignment — and therefore Σ i·x_i — is identical in both engines
  // even though Gini itself is tie-invariant). The skew readout that
  // decides per-source sampling caps.
  //
  // Scale: the rank window is PARTITIONED by source (never global); the
  // numerator (2·Σ i·x − (n+1)·Σx)·10⁶ rides DECIMAL(38,0) end-to-end —
  // Σ i·x alone reaches ~n²·max(x), past a BIGINT at ~10⁹ docs/source,
  // and the DuckDB oracle widens the same arithmetic to HUGEINT, so Long
  // on the Spark side would silently wrap where the oracle stays exact
  // (round-9 advice). `div` on decimals returns BIGINT — the output
  // schema is unchanged and gini_ppm ≤ 10⁶ always fits.
  def tokenGini(docs: DataFrame): DataFrame = {
    val t = docs.select(col("source"), col("doc_id"),
      expr("size(filter(split(lower(text), ' '), t -> t != ''))")
        .cast("long").as("ntok"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("ntok"), col("doc_id"))))
    t.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("tokens"),
        sum((col("i") * col("ntok")).cast("decimal(38,0)")).as("iwx"))
      .withColumn("gini_ppm",
        expr("((2 * iwx - (cast(docs as decimal(38,0)) + 1) * tokens) * 1000000)" +
          " div (cast(docs as decimal(38,0)) * tokens)"))
      .select(col("source"), col("docs"), col("tokens"), col("gini_ppm"))
      .orderBy(col("source"))
  }

  def q416TokenGini(spark: SparkSession, dir: String): DataFrame =
    tokenGini(Tables.documents(spark, dir))

  val q416Sql: String =
    s"""WITH t AS (
       |  SELECT source, CAST(len(${TextOps.toksSqlD}) AS BIGINT) AS ntok,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
       |      len(${TextOps.toksSqlD}), doc_id) AS i
       |  FROM documents)
       |SELECT source, COUNT(*) AS docs, CAST(SUM(ntok) AS BIGINT) AS tokens,
       |  CAST(((2 * SUM(i * ntok) - (COUNT(*) + 1) * SUM(ntok)) * 1000000)
       |    // (COUNT(*) * SUM(ntok)) AS BIGINT) AS gini_ppm
       |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q419 — VOCABULARY GROWTH CURVE (round 10): distinct token types,
  // token mass, and type-token ratio over nested id-range prefixes of
  // the corpus (1/8, 1/4, 1/2, all of the doc_id span) — the Heaps-law
  // readout that forecasts tokenizer vocab pressure and dedup headroom
  // from a prefix before the full corpus lands (a vocab curve that has
  // flattened means new data is re-combination, not new language).
  // Prefixes are doc_id-RANGE cuts (lo + span·k/8), not rank cuts: exact
  // integers, no global row_number window, ingest-order semantics when
  // ids are assigned on arrival.
  //
  // Scale: one token explode + 4 grid-filtered aggregates; the distinct
  // shuffles on the token itself. ttr rides DECIMAL(38,0) (10⁶·vocab
  // wraps past ~9·10¹² types — q416's overflow class, closed the same
  // way).
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val grid = spark.range(1).select(explode(expr("array(1L, 2L, 4L, 8L)")).as("eighths"))
    val cutoff = expr("lo + ((hi - lo + 1L) * eighths) div 8")
    val tok = docs.select(col("doc_id"),
      explode(expr("filter(split(lower(text), ' '), t -> t != '')")).as("w"))
    val t = tok.crossJoin(broadcast(bounds)).crossJoin(broadcast(grid))
      .filter(col("doc_id") < cutoff)
      .groupBy(col("eighths"))
      .agg(count(lit(1)).as("tokens"), countDistinct(col("w")).as("vocab"))
    val d = docs.select(col("doc_id"))
      .crossJoin(broadcast(bounds)).crossJoin(broadcast(grid))
      .filter(col("doc_id") < cutoff)
      .groupBy(col("eighths")).agg(count(lit(1)).as("docs"))
    t.join(d, Seq("eighths"))
      .withColumn("ttr_ppm",
        expr("(1000000 * cast(vocab as decimal(38,0))) div cast(tokens as decimal(38,0))"))
      .select(col("eighths"), col("docs"), col("tokens"), col("vocab"), col("ttr_ppm"))
      .orderBy(col("eighths"))
  }

  def q419VocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowth(Tables.documents(spark, dir))

  val q419Sql: String =
    s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |g AS (SELECT UNNEST([1, 2, 4, 8]) AS eighths),
       |tok AS (
       |  SELECT doc_id, UNNEST(${TextOps.toksSqlD}) AS w FROM documents),
       |t AS (
       |  SELECT eighths, COUNT(*) AS tokens, COUNT(DISTINCT w) AS vocab
       |  FROM tok, b, g
       |  WHERE doc_id < lo + ((hi - lo + 1) * eighths) // 8 GROUP BY 1),
       |d AS (
       |  SELECT eighths, COUNT(*) AS docs
       |  FROM documents, b, g
       |  WHERE doc_id < lo + ((hi - lo + 1) * eighths) // 8 GROUP BY 1)
       |SELECT CAST(t.eighths AS BIGINT) AS eighths, d.docs, t.tokens, t.vocab,
       |  CAST((1000000 * t.vocab) // t.tokens AS BIGINT) AS ttr_ppm
       |FROM t JOIN d USING (eighths) ORDER BY eighths""".stripMargin

  // --------------------------------------------------------------------------
  // q420 — BLOCK-PADDING AUDIT (round 10): for context caps {16, 32, 64},
  // the cost of the NO-cross-document-packing regime — each doc occupies
  // ceil(ntok/cap) blocks and the tail block pads to cap. pad_ppm is the
  // wasted-slot fraction; read with q413 (truncation loss at the same
  // caps) and q285 (the cross-doc stream packing that eliminates the
  // pad): the three together price the packing policy choice. Short-doc
  // corpora waste most of their compute here — this is the number that
  // justifies sequence packing before anyone trains.
  //
  // Scale: row-local arithmetic + one broadcast-grid aggregate; the ppm
  // rides DECIMAL(38,0) (10⁶·token-mass wraps a BIGINT at ~9·10¹² —
  // real at 100 TB; q416's class).
  def paddingAudit(docs: DataFrame, caps: Seq[Long]): DataFrame = {
    val spark = docs.sparkSession
    val t = docs.select(
      expr("size(filter(split(lower(text), ' '), t -> t != ''))")
        .cast("long").as("ntok"))
    val grid = spark.range(1)
      .select(explode(array(caps.map(lit): _*)).as("cap"))
    t.crossJoin(broadcast(grid))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("tokens"),
        sum(expr("(ntok + cap - 1L) div cap")).as("blocks"))
      .withColumn("slots", col("blocks") * col("cap"))
      .withColumn("pad_ppm",
        expr("1000000L - (1000000 * cast(tokens as decimal(38,0)))" +
          " div cast(slots as decimal(38,0))"))
      .orderBy(col("cap"))
  }

  def q420PaddingAudit(spark: SparkSession, dir: String): DataFrame =
    paddingAudit(Tables.documents(spark, dir), Seq(16L, 32L, 64L))

  val q420Sql: String =
    s"""WITH t AS (
       |  SELECT CAST(len(${TextOps.toksSqlD}) AS BIGINT) AS ntok FROM documents),
       |g AS (SELECT UNNEST([16, 32, 64]) AS cap)
       |SELECT CAST(cap AS BIGINT) AS cap, COUNT(*) AS docs,
       |  CAST(SUM(ntok) AS BIGINT) AS tokens,
       |  CAST(SUM((ntok + cap - 1) // cap) AS BIGINT) AS blocks,
       |  CAST(SUM((ntok + cap - 1) // cap) * cap AS BIGINT) AS slots,
       |  CAST(1000000 - (1000000 * SUM(ntok))
       |    // (SUM((ntok + cap - 1) // cap) * cap) AS BIGINT) AS pad_ppm
       |FROM t CROSS JOIN g GROUP BY g.cap ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q421 — STOP-SHINGLE CAP PRICING (round 10): the cost model for the
  // df-cap guard that q31/q176/q415 ship — per candidate cap {5, 10, 25,
  // 50}: how many shingle types and postings survive, and how much
  // inverted-index PAIR MASS (Σ C(df,2), the join's true cost driver)
  // the cap keeps vs drops. The readout that picks the cap BEFORE a
  // sweep: pair_mass_dropped is compute saved, postings_kept_ppm is
  // recall surface retained. Prices the exact knob round 10 promoted.
  //
  // Scale: one df aggregate over the (doc_id, shingle) index + a
  // broadcast cap grid; pair mass rides DECIMAL(38,0) (df² wraps a
  // BIGINT once one shingle's df passes ~4.3e9 — exactly the hot-
  // posting corpus this operator exists to detect; q416's class).
  def capPricing(docs: DataFrame, caps: Seq[Long]): DataFrame = {
    val spark = docs.sparkSession
    val dfS = TextOps.shingleEdges(docs)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .select(col("df")).localCheckpoint(false) // feeds every grid cell
    val grid = spark.range(1).select(explode(array(caps.map(lit): _*)).as("cap"))
    dfS.crossJoin(broadcast(grid))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("types_total"),
        count_if(col("df") <= col("cap")).as("types_kept"),
        sum(col("df")).as("postings_total"),
        sum(when(col("df") <= col("cap"), col("df")).otherwise(0L)).as("postings_kept"),
        sum(expr("cast(df as decimal(38,0)) * (df - 1) div 2")).as("pair_mass_total"),
        sum(expr("case when df <= cap then cast(df as decimal(38,0)) * (df - 1) div 2" +
          " else 0 end")).as("pair_mass_kept"))
      .select(col("cap"), col("types_kept"), col("types_total"),
        expr("(1000000 * cast(postings_kept as decimal(38,0)))" +
          " div cast(postings_total as decimal(38,0))").as("postings_kept_ppm"),
        col("pair_mass_kept"),
        (col("pair_mass_total") - col("pair_mass_kept")).as("pair_mass_dropped"))
      .orderBy(col("cap"))
  }

  def q421CapPricing(spark: SparkSession, dir: String): DataFrame =
    capPricing(Tables.documents(spark, dir), Seq(5L, 10L, 25L, 50L))

  val q421Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |d AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
       |g AS (SELECT UNNEST([5, 10, 25, 50]) AS cap)
       |SELECT CAST(cap AS BIGINT) AS cap,
       |  CAST(COUNT(*) FILTER (df <= cap) AS BIGINT) AS types_kept,
       |  COUNT(*) AS types_total,
       |  CAST((1000000 * SUM(df) FILTER (df <= cap)) // SUM(df) AS BIGINT)
       |    AS postings_kept_ppm,
       |  CAST(SUM(CASE WHEN df <= cap THEN df * (df - 1) // 2 ELSE 0 END)
       |    AS BIGINT) AS pair_mass_kept,
       |  CAST(SUM(df * (df - 1) // 2)
       |    - SUM(CASE WHEN df <= cap THEN df * (df - 1) // 2 ELSE 0 END)
       |    AS BIGINT) AS pair_mass_dropped
       |FROM d CROSS JOIN g GROUP BY g.cap ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q422 — LENGTH-DISTRIBUTION DRIFT between corpus halves (round 10):
  // per source, the L1 distance (in ppm) between the token-length
  // histograms of the first and second doc_id-range half — the
  // ingest-drift tripwire (a source whose documents suddenly shorten is
  // a scraper change or truncation bug upstream; it shifts packing,
  // quality filters, and mixture weights downstream). Buckets are
  // ntok div 8 capped at 16 — a fixed 17-cell value grid, no quantiles.
  //
  // Scale: one row-local bucketing pass + per-(source, half, bucket)
  // hash aggregate over a bounded grid; each half's share floors to ppm
  // INDEPENDENTLY before the |a − b| sum, so the statistic is exact
  // integer arithmetic end to end (no double sums, engine-stable).
  def lengthDrift(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val bucketed = docs.select(col("source"), col("doc_id"),
      least(expr("size(filter(split(lower(text), ' '), t -> t != '')) div 8"),
        lit(16)).cast("long").as("bucket"))
      .crossJoin(broadcast(bounds))
      .withColumn("h",
        when(col("doc_id") < expr("lo + (hi - lo + 1L) div 2"), "a").otherwise("b"))
    val cells = bucketed.groupBy(col("source"), col("bucket"))
      .agg(count_if(col("h") === "a").as("na"), count_if(col("h") === "b").as("nb"))
    val totals = bucketed.groupBy(col("source"))
      .agg(count_if(col("h") === "a").as("ta"), count_if(col("h") === "b").as("tb"))
    cells.join(totals, Seq("source"))
      // CASE short-circuits, so the divisions never execute on a
      // one-sided source (ANSI div-by-zero would throw, not null)
      .select(col("source"), col("ta"), col("tb"),
        when(col("ta") === 0 || col("tb") === 0, lit(null).cast("long"))
          .otherwise(abs(expr("(1000000L * na) div ta") -
            expr("(1000000L * nb) div tb"))).as("d"))
      .groupBy(col("source"))
      .agg(max(col("ta")).as("docs_a"), max(col("tb")).as("docs_b"),
        sum(col("d")).as("l1_raw"))
      // a fully one-sided source (every doc in one doc_id half) has an
      // undefined per-half share (div-by-zero → null); read it as MAXIMAL
      // drift (1e6 ppm = total variation bound), not null — the tripwire
      // must fire loudest exactly when a source's ingest collapsed.
      .select(col("source"), col("docs_a"), col("docs_b"),
        when(col("docs_a") === 0 || col("docs_b") === 0, lit(1000000L))
          .otherwise(col("l1_raw")).as("l1_ppm"))
      .orderBy(col("source"))
  }

  def q422LengthDrift(spark: SparkSession, dir: String): DataFrame =
    lengthDrift(Tables.documents(spark, dir))

  val q422Sql: String =
    s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |d AS (
       |  SELECT source,
       |    LEAST(len(${TextOps.toksSqlD}) // 8, 16) AS bucket,
       |    CASE WHEN doc_id < lo + (hi - lo + 1) // 2 THEN 'a' ELSE 'b' END AS h
       |  FROM documents, b),
       |cells AS (
       |  SELECT source, bucket,
       |    COUNT(*) FILTER (h = 'a') AS na, COUNT(*) FILTER (h = 'b') AS nb
       |  FROM d GROUP BY 1, 2),
       |tot AS (
       |  SELECT source,
       |    COUNT(*) FILTER (h = 'a') AS ta, COUNT(*) FILTER (h = 'b') AS tb
       |  FROM d GROUP BY 1)
       |SELECT source, CAST(MAX(ta) AS BIGINT) AS docs_a,
       |  CAST(MAX(tb) AS BIGINT) AS docs_b,
       |  CAST(CASE WHEN MAX(ta) = 0 OR MAX(tb) = 0 THEN 1000000
       |    ELSE SUM(ABS((1000000 * na) // ta - (1000000 * nb) // tb))
       |    END AS BIGINT) AS l1_ppm
       |FROM cells JOIN tot USING (source)
       |GROUP BY source ORDER BY source""".stripMargin

  private val catalogR9: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q419_vocab_growth", q419VocabGrowth _, Some(q419Sql)),
    ("q420_padding_audit", q420PaddingAudit _, Some(q420Sql)),
    ("q421_cap_pricing", q421CapPricing _, Some(q421Sql)),
    ("q422_length_drift", q422LengthDrift _, Some(q422Sql)),
    ("q407_repetition_audit", q407RepetitionAudit _, Some(q407Sql)),
    ("q408_dup_inflation", q408DupInflation _, Some(q408Sql)),
    ("q409_ngram_contamination", q409NgramContamination _, Some(q409Sql)),
    ("q410_token_yield", q410TokenYield _, Some(q410Sql)),
    ("q413_truncation_audit", q413TruncationAudit _, Some(q413Sql)),
    ("q416_token_gini", q416TokenGini _, Some(q416Sql)))

  // ═════════════════ formerly Round8Ops (consolidated round 10) ═════════════════

  // --------------------------------------------------------------------------
  // q279 — DSIR IMPORTANCE WEIGHTING (Data Selection via Importance
  // Resampling, Xie et al. 2023): score every document by how much it
  // looks like the TARGET distribution (here: the English slice) under
  // hashed-bigram unigram LMs — log w(doc) = Σ_bigram [log p_tgt(b) −
  // log p_src(b)] with add-1 smoothing over 1024 hash buckets. The
  // standard cheap data-selection pass before pretraining: keep/resample
  // docs with positive importance.
  //
  // Scale: two hash aggregates collapse the corpus to a 1024-row
  // log-ratio table that BROADCASTS back; scoring is one map-side join +
  // one per-doc aggregate — linear, shuffle only on doc_id.
  //
  // Determinism (§8.4): the per-bucket log-ratio is ONE libm ln of an
  // exact-integer rational, quantized to a 1e-9-grid long; per-doc sums
  // are exact BIGINT sums of those longs — order-free, no double output.
  def q279DsirWeighting(spark: SparkSession, dir: String): DataFrame = {
    // explicit-width spread of the single-split scan (q32's rule): the
    // tokenize + bigram explode + per-bigram md5 grind is CPU-dense and
    // otherwise serializes on one task at test-SF byte sizes
    val width = spark.sparkContext.defaultParallelism
    val toks = Tables.documents(spark, dir)
      .repartition(width, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        expr("filter(split(lower(text), ' '), t -> t != '')").as("t"))
      .filter(size(col("t")) >= 2)
    val bigrams = toks.select(col("doc_id"), col("lang"),
      explode(expr("zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
        " (a, b) -> concat(a, ' ', b))")).as("bg"))
      .withColumn("b",
        expr("cast(conv(substring(md5(bg), 1, 8), 16, 10) as bigint) % 1024"))
    // ONE aggregate pass to the 1024-cell hash-bucket grid — the separate
    // tgt/src/tots consumers each re-ran the bigram+md5 grind (8 scan
    // mentions in the r14 plan dump). The grid is dimension-bounded
    // (≤ 1024 rows), so totals fold from it and per-bucket en-counts are
    // conditional aggregates — LEFT-JOIN/fill(0) semantics preserved
    // exactly (count_if gives 0 where the old tgt row was absent).
    val grid = bigrams.groupBy(col("b"))
      .agg(count(lit(1)).as("cs"), count_if(col("lang") === "en").as("ct"))
      .localCheckpoint(false)
    val tots = grid.agg(
      coalesce(sum(col("ct")), lit(0L)).as("tot_t"),
      coalesce(sum(col("cs")), lit(0L)).as("tot_s"))
    val lr = grid
      .crossJoin(broadcast(tots))
      .withColumn("lr_q", expr(
        "cast(floor(ln((ct + 1.0d) * (tot_s + 1024.0d) / ((cs + 1.0d) * (tot_t + 1024.0d)))" +
          " * 1e9 + 0.5d) as long)"))
      .select(col("b"), col("lr_q"))
    bigrams.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lr_q")).as("logw_e9"))
      .select(col("doc_id"), col("n_bigrams"), col("logw_e9"),
        (col("logw_e9") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q279Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 8))::BIGINT % 1024 AS b
      |  FROM t, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 2),
      |ct AS (SELECT b, COUNT(*) AS ct FROM bg WHERE lang = 'en' GROUP BY b),
      |cs AS (SELECT b, COUNT(*) AS cs FROM bg GROUP BY b),
      |tot AS (SELECT
      |  (SELECT COUNT(*) FROM bg WHERE lang = 'en') AS tot_t,
      |  (SELECT COUNT(*) FROM bg) AS tot_s),
      |lr AS (
      |  SELECT cs.b,
      |    CAST(FLOOR(ln((COALESCE(ct.ct, 0) + 1.0) * (tot_s + 1024.0)
      |      / ((cs.cs + 1.0) * (tot_t + 1024.0))) * 1e9 + 0.5) AS BIGINT) AS lr_q
      |  FROM cs LEFT JOIN ct ON ct.b = cs.b CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(lr_q) AS BIGINT) AS logw_e9,
      |  SUM(lr_q) > 0 AS keep
      |FROM bg JOIN lr ON lr.b = bg.b
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin


  private val catalogR8: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q279_dsir_weighting", q279DsirWeighting _, Some(q279Sql)))

  // --------------------------------------------------------------------------
  // q423 — METADATA-CONFLICT CENSUS over near-dup clusters (round 11):
  // for every q82 dedup cluster, does the cluster agree on its metadata?
  // A cluster whose members carry DIFFERENT lang or source labels is
  // labeling noise — survivorship (q152) keeps ONE representative's
  // metadata and silently discards the others, so this census is the
  // audit an operator runs BEFORE trusting per-lang/per-source mixture
  // weights (q210/q329) computed on the deduped corpus. Output: one row
  // per (lang_conflict, source_conflict) cell with cluster and doc
  // counts — the (false, false) cell is benign same-source re-posting;
  // any true cell quantifies metadata the sweep will destroy.
  //
  // Scale: the shared (capped, probed) pair pipeline + one slim join of
  // cluster labels to (lang, source) + two bounded hash aggregates
  // (cluster domain, then a ≤ 4-cell census). Linear past the pipeline.
  def q423LabelConflict(spark: SparkSession, dir: String): DataFrame =
    TextOps.clusterPairs(
      TextOps.q31NgramJaccard(spark, dir).select(col("id_a"), col("id_b")))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("members"),
        countDistinct(col("lang")).as("nl"),
        countDistinct(col("source")).as("ns"))
      .groupBy((col("nl") > 1).as("lang_conflict"), (col("ns") > 1).as("source_conflict"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("members")).as("n_docs"))
      .orderBy(col("lang_conflict"), col("source_conflict"))

  val q423Sql: String = {
    val prefix = TextOps.q82Sql.substring(0, TextOps.q82Sql.indexOf("SELECT l.doc_id"))
    prefix +
      """,cl AS (
        |  SELECT l.cluster, COUNT(*) AS members,
        |    COUNT(DISTINCT d.lang) AS nl, COUNT(DISTINCT d.source) AS ns
        |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
        |  GROUP BY l.cluster)
        |SELECT nl > 1 AS lang_conflict, ns > 1 AS source_conflict,
        |  COUNT(*) AS n_clusters, CAST(SUM(members) AS BIGINT) AS n_docs
        |FROM cl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q427 — SOURCE VOCABULARY-OVERLAP MATRIX (round 11): pairwise Jaccard
  // over each source's shingle TYPE set — "how redundant are my sources
  // at the vocabulary level" BEFORE any document-level dedup runs. The
  // type-level view complements q417 (document copy matrix: instances)
  // and q348 (unigram distribution divergence): two crawls can share no
  // verbatim documents yet still contribute near-identical phrase
  // inventories, which caps the marginal value of ingesting both.
  //
  // Scale: distinct (source, shingle) projection collapses the corpus to
  // the type domain ONCE (hash aggregate, linear); the pair join is on
  // the shingle key where each posting list is bounded by |sources| —
  // pair mass ≤ |types|·|sources|²/2 with |sources| small and FIXED (a
  // catalog dimension, not a data dimension), so the join is linear in
  // types at any corpus scale. Jaccard on exact integer counts.
  def q427SourceTypeOverlap(spark: SparkSession, dir: String): DataFrame = {
    val types = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.shingles(3)).as("s"))
      .distinct()
      .localCheckpoint(false) // feeds the per-source sizes AND the pair join
    val sizes = types.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    val inter = types.as("a")
      .join(types.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes).withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_types", "na"), Seq("src_a"))
      .join(broadcast(sizes).withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_types", "nb"), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"), col("na"), col("nb"),
        expr("(1000000L * inter) div (na + nb - inter)").as("jaccard_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q427Sql: String =
    s"""WITH ty AS (
       |  SELECT DISTINCT source, s FROM (
       |    SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT source, ${TextOps.toksSqlD} AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |sz AS (SELECT source, COUNT(*) AS n_types FROM ty GROUP BY 1),
       |pr AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
       |  FROM ty a JOIN ty b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, inter,
       |  sa.n_types AS na, sb.n_types AS nb,
       |  CAST((1000000 * inter) // (sa.n_types + sb.n_types - inter) AS BIGINT)
       |    AS jaccard_ppm
       |FROM pr
       |JOIN sz sa ON sa.source = src_a
       |JOIN sz sb ON sb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  // --------------------------------------------------------------------------
  // q435 — EPOCH-BUDGET PLANNER (round 11): a uniform target mixture over
  // |S| sources wants need = T/|S| tokens from each source per epoch of
  // the total budget T — but a small source can only supply its mass m_i
  // per pass, so it must REPEAT epochs_ppm = 1e6·need/m_i times. The
  // data-constrained scaling literature puts the useful-repetition knee
  // near 4 epochs; this clamps each source there, reports the achievable
  // take and the deficit, and the bottom line every mixture plan
  // (q210/q329 pick weights; this prices their FEASIBILITY) needs before
  // promising a token budget. Integer fixed-point throughout.
  //
  // Scale: one per-source aggregate over the corpus, then |S|-row grid
  // arithmetic with a broadcast 1-row total join.
  def q435EpochBudget(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("source"), size(TextOps.toks).cast("long").as("ntok"))
      .groupBy(col("source")).agg(sum(col("ntok")).as("tok"))
    val tot = src.agg(sum(col("tok")).as("t"), count(lit(1)).as("ns"))
    src.crossJoin(broadcast(tot))
      .withColumn("need_tok", expr("t div ns"))
      .withColumn("epochs_ppm",
        // DECIMAL(38,0) product (q421 discipline): need_tok = T/|S| on a
        // multi-trillion-token corpus with few sources pushes 1e6·need
        // past Int64, and ANSI arithmetic would abort the plan
        when(col("tok") === 0, lit(4000000L))
          .otherwise(least(
            expr("cast((cast(need_tok as decimal(38,0)) * 1000000L) div tok as bigint)"),
            lit(4000000L))))
      .withColumn("take_tok", least(col("need_tok"), expr("4L * tok")))
      .withColumn("deficit_tok", col("need_tok") - col("take_tok"))
      .select(col("source"), col("tok"), col("need_tok"), col("epochs_ppm"),
        col("take_tok"), col("deficit_tok"))
      .orderBy(col("source"))
  }

  val q435Sql: String =
    s"""WITH src AS (
       |  SELECT source, CAST(SUM(len(${TextOps.toksSqlD})) AS BIGINT) AS tok
       |  FROM documents GROUP BY source),
       |tot AS (SELECT SUM(tok) AS t, COUNT(*) AS ns FROM src)
       |SELECT source, tok,
       |  CAST(t // ns AS BIGINT) AS need_tok,
       |  CAST(CASE WHEN tok = 0 THEN 4000000
       |    ELSE LEAST(((t // ns)::HUGEINT * 1000000) // tok, 4000000)
       |    END AS BIGINT) AS epochs_ppm,
       |  CAST(LEAST(t // ns, 4 * tok) AS BIGINT) AS take_tok,
       |  CAST(t // ns - LEAST(t // ns, 4 * tok) AS BIGINT) AS deficit_tok
       |FROM src CROSS JOIN tot ORDER BY source""".stripMargin

  private val catalogR11: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q423_label_conflict", q423LabelConflict _, Some(q423Sql)),
    ("q427_source_type_overlap", q427SourceTypeOverlap _, Some(q427Sql)),
    ("q435_epoch_budget", q435EpochBudget _, Some(q435Sql)),
    ("q438_contamination_attribution", q438ContaminationAttribution _, Some(q438Sql)),
    ("q440_cap_recall_frontier", q440CapRecallFrontier _, Some(q440Sql)))

  // --------------------------------------------------------------------------
  // q440 — STOP-SHINGLE CAP RECALL FRONTIER (round 11): q421 prices what
  // each df-cap candidate SAVES (pair mass dropped); this prices what it
  // LOSES — per cap ∈ {5, 10, 25, 50}: candidate pairs surviving, pairs
  // accepted at jaccard ≥ 0.5 under that cap's semantics (hot shingles
  // dropped from the intersection, FULL set sizes in the union — exactly
  // what q31 ships), and the accepted-pair loss vs the cap-50 reference.
  // Together the two tables are the knob's full cost/recall frontier.
  //
  // Scale: ONE pass of the guarded pair expansion at the LARGEST cap
  // with per-event df attached ([[TextOps.cappedPairEvents]]), then the
  // smaller caps are conditional sums over the same events — never four
  // pipelines, and the cap-50 guard's OOM bound is inherited. The
  // reference row joins back as a broadcast 1-row frame.
  def q440CapRecallFrontier(spark: SparkSession, dir: String): DataFrame = {
    val caps = Seq(5L, 10L, 25L, 50L)
    val events = TextOps.cappedPairEvents(
      TextOps.shingleStream(Tables.documents(spark, dir)), cap = 50)
    val interCols = caps.map(c =>
      sum(when(col("df") <= c, 1L).otherwise(0L)).as(s"i$c"))
    val perPair = events
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(interCols.head, interCols.tail: _*)
    val g = perPair.select(col("na"), col("nb"),
        explode(array(caps.map(c =>
          struct(lit(c).as("cap"), col(s"i$c").as("inter"))): _*)).as("e"))
      .select(col("e.cap").as("cap"), col("e.inter").as("inter"),
        col("na"), col("nb"))
      .filter(col("inter") >= 1)
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("cand_pairs"),
        count_if(expr("cast(inter as double) / (na + nb - inter) >= 0.5d"))
          .as("accepted_pairs"))
    val ref = g.filter(col("cap") === 50)
      .select(col("accepted_pairs").as("acc_ref"))
    g.crossJoin(broadcast(ref))
      .select(col("cap"), col("cand_pairs"), col("accepted_pairs"),
        (col("acc_ref") - col("accepted_pairs")).as("lost_vs_max"),
        when(col("acc_ref") === 0, lit(0L))
          .otherwise(expr("(1000000L * (acc_ref - accepted_pairs)) div acc_ref"))
          .as("lost_ppm"))
      .orderBy(col("cap"))
  }

  // lazy: referenced by catalogR11 ABOVE its definition — a plain val
  // would be null at object init (§8.24's gotcha)
  lazy val q440Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |shd AS (
       |  SELECT sh.doc_id, sh.s, d.df FROM sh
       |  JOIN (SELECT s, COUNT(*) AS df FROM sh GROUP BY s
       |        HAVING COUNT(*) <= 50) d USING (s)),
       |pp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sa.n_sh AS na,
       |    sb.n_sh AS nb,
       |    SUM(CASE WHEN a.df <= 5 THEN 1 ELSE 0 END) AS i5,
       |    SUM(CASE WHEN a.df <= 10 THEN 1 ELSE 0 END) AS i10,
       |    SUM(CASE WHEN a.df <= 25 THEN 1 ELSE 0 END) AS i25,
       |    COUNT(*) AS i50
       |  FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
       |  JOIN sizes sa ON sa.doc_id = a.doc_id
       |  JOIN sizes sb ON sb.doc_id = b.doc_id
       |  WHERE sa.n_sh <= sb.n_sh * 2 AND sb.n_sh <= sa.n_sh * 2
       |  GROUP BY 1, 2, 3, 4),
       |e AS (
       |  SELECT 5 AS cap, i5 AS inter, na, nb FROM pp UNION ALL
       |  SELECT 10, i10, na, nb FROM pp UNION ALL
       |  SELECT 25, i25, na, nb FROM pp UNION ALL
       |  SELECT 50, i50, na, nb FROM pp),
       |g AS (
       |  SELECT cap, COUNT(*) AS cand,
       |    COUNT(*) FILTER (CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5)
       |      AS acc
       |  FROM e WHERE inter >= 1 GROUP BY cap),
       |ref AS (SELECT acc AS acc_ref FROM g WHERE cap = 50)
       |SELECT CAST(cap AS BIGINT) AS cap, CAST(cand AS BIGINT) AS cand_pairs,
       |  CAST(acc AS BIGINT) AS accepted_pairs,
       |  CAST(acc_ref - acc AS BIGINT) AS lost_vs_max,
       |  CAST(CASE WHEN acc_ref = 0 THEN 0
       |    ELSE (1000000 * (acc_ref - acc)) // acc_ref END AS BIGINT)
       |    AS lost_ppm
       |FROM g CROSS JOIN ref ORDER BY cap""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    catalogE ++ catalogK ++ catalogL ++ catalogM ++ catalogO ++ catalogAn ++
      catalogAu ++ catalogR9 ++ catalogR8 ++ catalogR11
}
