package graft.ops

import graft.functions.GraftFunctions.cosineSim
import graft.{GraftSession, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph mining over the purchase/supply networks — k-core peeling, label propagation, Adamic-Adar, HITS, trade homophily — plus the series riders that shipped in the same batches (ACF, SAX motifs, EWMA bands, Granger).
  *
  * Consolidated from the round-8 per-batch files (Round8dOps, Round8gOps, Round8sOps, Round8vOps, Round8pOps)
  * per the round-8 verdict's maintainability task: same operators,
  * same catalog entries, same oracles, byte-identical results —
  * only the file layout changed. Section markers preserve the
  * original batch scaladocs and boundaries.
  */
object GraphMiningOps {
  // ═════════════════ formerly Round8dOps ═════════════════
  /** Round-8 fourth operator batch: bipartite k-core peeling, a kNN
    * label-noise audit, Good–Turing frequency smoothing, integer-exact
    * autocorrelation, Herfindahl market concentration, and SAX motif
    * counting — graph/eval/LM/time-series surface the reference's [EXT]
    * north star needs but Spark has no built-in for. §8.4-compliant:
    * every hashed cell is an exact integer, a string, or a
    * `Num.pround` of a fixed-order deterministic double chain.
    */

  // --------------------------------------------------------------------------
  // q300 — BIPARTITE K-CORE PEELING: iteratively delete customers with
  // < kc distinct parts and parts with < kp distinct customers from the
  // customer–part purchase graph (synchronous peel: both side filters are
  // computed against the SAME round's edge set, then applied together).
  // The (kc, kp)-core is the standard density backbone extraction before
  // graph embedding / co-occurrence mining; the per-round survivor counts
  // are the peel profile.
  //
  // Scale: each round is two hash aggregates (degree per side) and two
  // equi-joins on the node id — all shuffles on bounded-width keys, rounds
  // capped at 4. Each round's survivor edge set gets a LAZY localCheckpoint
  // (plan flattens to a LogicalRDD, so the e-subtree referenced by the
  // round's two degree aggregates AND the next round's joins computes once
  // via RDD-level stage reuse), and the per-round stats are 1-row
  // aggregates UNIONed into one lazy plan — a single final action instead
  // of rounds+1 eager collect jobs (measured 8.3 s → 2.6 s at sf0.1).
  // The checkpointed RDDs stay MEMORY_AND_DISK-cached until session GC —
  // bounded by rounds × |edges|, same peak as the old persist() chain.
  //
  // Checkpoint lifecycle (CALLER contract): per-round release is
  // impossible by design — the returned stats plan references EVERY
  // round's frame — so after consuming the result a long-lived session
  // must free the pinned blocks itself: `Checkpoints.release(result)`
  // (all rounds are reachable from the returned plan), or the
  // harness-style `Checkpoints.releaseAll(spark)` sweep that Bench and
  // Verify run between queries. Pinned by CheckpointLifecycleSpec.
  //
  // Determinism: counts only.
  def kcorePeel(edges: DataFrame, kc: Int, kp: Int, rounds: Int): DataFrame = {
    def stats(e: DataFrame, r: Int): DataFrame =
      e.agg(countDistinct(col("ck")).as("n_cust"),
        countDistinct(col("pk")).as("n_part"),
        count(lit(1)).as("n_edges"))
        .select(lit(r).as("round"), col("n_cust"), col("n_part"), col("n_edges"))
    var e = edges.localCheckpoint(false)
    var out = stats(e, 0)
    for (r <- 1 to rounds) {
      val cOk = e.groupBy(col("ck")).agg(count(lit(1)).as("dc"))
        .filter(col("dc") >= kc).select(col("ck"))
      val pOk = e.groupBy(col("pk")).agg(count(lit(1)).as("dp"))
        .filter(col("dp") >= kp).select(col("pk"))
      e = e.join(cOk, Seq("ck")).join(pOk, Seq("pk"))
        .select(col("ck"), col("pk")).localCheckpoint(false)
      out = out.union(stats(e, r))
    }
    out.orderBy(col("round"))
  }

  def q300KcorePeel(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct()
    kcorePeel(edges, kc = 25, kp = 20, rounds = 4)
  }

  val q300Sql: String = {
    def peel(prev: String, i: Int): String =
      s"""c$i AS (SELECT ck FROM $prev GROUP BY ck HAVING COUNT(*) >= 25),
         |p$i AS (SELECT pk FROM $prev GROUP BY pk HAVING COUNT(*) >= 20),
         |e$i AS (SELECT ck, pk FROM $prev
         |  WHERE ck IN (SELECT ck FROM c$i) AND pk IN (SELECT pk FROM p$i))"""
        .stripMargin
    def st(i: Int): String =
      s"""SELECT $i AS round, COUNT(DISTINCT ck) AS n_cust,
         |  COUNT(DISTINCT pk) AS n_part, COUNT(*) AS n_edges FROM e$i"""
        .stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |${peel("e0", 1)},
       |${peel("e1", 2)},
       |${peel("e2", 3)},
       |${peel("e3", 4)}
       |${st(0)}
       |UNION ALL ${st(1)}
       |UNION ALL ${st(2)}
       |UNION ALL ${st(3)}
       |UNION ALL ${st(4)}
       |ORDER BY round""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q301 — kNN LABEL-NOISE AUDIT (confident-learning style): for a
  // bounded probe sample, find each probe's 3 nearest neighbours by
  // cosine among the OTHER vectors, take the plurality neighbour label
  // (ties: better best-rank, then smaller label), and report per true
  // label how many probes disagree with their neighbourhood — the
  // standard pre-training label-quality readout.
  //
  // Scale: the probe side is `orderBy(vec_id).limit(400)` — a BOUNDED,
  // deterministic eval sample broadcast against the corpus, so cost is
  // |corpus| × 400, linear in the corpus. At 100 TB the probe set stays a
  // fixed eval sample and candidate generation swaps to q42/q45's banded
  // joins; the vote/report stages are unchanged.
  //
  // Determinism: sims come from the native fused cosine_sim Expression
  // (graft.functions.CosineSimilarity) — its single left-to-right loop
  // computes dot/sqrt(nx·ny) with EXACTLY the IEEE operation order of
  // the q40 zip_with + aggregate fold it replaced (and of DuckDB's
  // list_reduce), so the selected neighbours are unchanged; the swap
  // moves the 400×|corpus| hot loop from interpreted per-element
  // lambdas into whole-stage codegen (round-9 bench: 5.5 → ~2 s at
  // sf0.1). Ranking ties break on vec_id; only integer vote counts are
  // hashed.
  def knnLabelAudit(embeddings: DataFrame, probeEvery: Int, probeCap: Int,
                    k: Int): DataFrame = {
    val vd = expr("transform(embedding, x -> cast(x as double))")
    // explicit-width spread of the single-split scan (q32's rule): the
    // |corpus| × |probes| cosine grind below otherwise serializes on the
    // embeddings table's one parquet split at test SFs. Width derives
    // from the session, never a constant.
    val width = embeddings.sparkSession.sparkContext.defaultParallelism
    val base = embeddings
      .select(col("vec_id"), col("label"), vd.as("v"))
      .repartition(width, col("vec_id"))
    val probes = base.filter(col("vec_id") % probeEvery === 0)
      .orderBy(col("vec_id")).limit(probeCap)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val top = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", cosineSim(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val votes = top.groupBy(col("qid"), col("qlabel"), col("label").as("nlabel"))
      .agg(count(lit(1)).as("cnt"), min(col("rank")).as("rb"))
    val pred = votes.groupBy(col("qid"), col("qlabel"))
      .agg(min(struct((-col("cnt")).as("nc"), col("rb"), col("nlabel"))).as("m"))
      .select(col("qid"), col("qlabel"), col("m.nlabel").as("pred"))
    pred.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        count_if(col("pred") =!= col("qlabel")).as("n_noisy"))
      .withColumn("noisy_ppm",
        expr("(1000000L * n_noisy) div n_probes"))
      .orderBy(col("label"))
  }

  def q301KnnLabelAudit(spark: SparkSession, dir: String): DataFrame =
    knnLabelAudit(Tables.embeddings(spark, dir), probeEvery = 5,
      probeCap = 400, k = 3)

  val q301Sql: String =
    """WITH base AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
      |      (a, b) -> a + b) AS n2
      |  FROM embeddings),
      |probes AS (
      |  SELECT vec_id AS qid, label AS qlabel, v AS qv, n2 AS qn2
      |  FROM base WHERE vec_id % 5 = 0 ORDER BY vec_id LIMIT 400),
      |sims AS (
      |  SELECT qid, qlabel, vec_id, label AS nlabel,
      |    list_reduce(list_transform(range(1, 65), i -> v[i] * qv[i]),
      |      (a, b) -> a + b) / sqrt(n2 * qn2) AS sim
      |  FROM base CROSS JOIN probes WHERE vec_id <> qid),
      |top AS (
      |  SELECT * FROM (
      |    SELECT qid, qlabel, nlabel,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC)
      |        AS rank
      |    FROM sims) WHERE rank <= 3),
      |votes AS (
      |  SELECT qid, qlabel, nlabel, COUNT(*) AS cnt, MIN(rank) AS rb
      |  FROM top GROUP BY qid, qlabel, nlabel),
      |pred AS (
      |  SELECT qid, qlabel, nlabel AS pred FROM (
      |    SELECT qid, qlabel, nlabel,
      |      ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY cnt DESC, rb ASC, nlabel ASC) AS rn
      |    FROM votes) WHERE rn = 1)
      |SELECT qlabel AS label, COUNT(*) AS n_probes,
      |  CAST(COUNT(*) FILTER (pred <> qlabel) AS BIGINT) AS n_noisy,
      |  CAST((1000000 * COUNT(*) FILTER (pred <> qlabel)) // COUNT(*)
      |    AS BIGINT) AS noisy_ppm
      |FROM pred GROUP BY qlabel ORDER BY label""".stripMargin

  // --------------------------------------------------------------------------
  // q302 — GOOD–TURING FREQUENCY SMOOTHING over word-3-gram term
  // frequencies: counts-of-counts N_r, and the GT-adjusted count
  // r* = (r+1)·N_{r+1}/N_r as an exact ppm integer — the classical
  // smoothed LM estimate (and the standard "how much unseen mass is
  // left" readout for corpus coverage: P(unseen) = N_1/G).
  //
  // Scale: one row-local 3-gram expansion, one hash aggregate per gram,
  // one aggregate over the count domain (tiny), one self-join on r+1.
  // Corpus-linear; identical shape at any SF.
  //
  // Determinism: all counts exact BIGINT; r* ships as a floor-div ppm.
  def goodTuring(docs: DataFrame, maxR: Int): DataFrame = {
    // size(t) < 3 guard: Spark's sequence(0, negative) DESCENDS — it does
    // not return empty like DuckDB's generate_series — so short docs must
    // be cut explicitly to keep the two tokenizations identical
    val grams = docs
      .select(expr(
        "filter(split(lower(text), ' '), t -> t != '')").as("t"))
      .select(explode(expr(
        """if(size(t) >= 3,
          |   transform(sequence(0, size(t) - 3),
          |     i -> concat_ws(' ', t[i], t[i+1], t[i+2])),
          |   array())""".stripMargin)).as("g"))
    val m = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val cc = m.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_types"))
    val nxt = cc.select((col("r") - 1).as("r"), col("n_types").as("next_types"))
    cc.join(nxt, Seq("r"), "left")
      .filter(col("r") <= maxR)
      .withColumn("r_star_ppm",
        expr("((r + 1) * next_types * 1000000L) div n_types"))
      .select(col("r").cast("long").as("r"), col("n_types"),
        coalesce(col("next_types"), lit(0L)).as("next_types"),
        col("r_star_ppm"))
      .orderBy(col("r"))
  }

  def q302GoodTuring(spark: SparkSession, dir: String): DataFrame =
    goodTuring(Tables.documents(spark, dir), maxR = 12)

  val q302Sql: String =
    s"""WITH gr AS (
       |  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
       |  FROM (SELECT ${TextOps.toksSqlD} AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
       |m AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY g),
       |cc AS (SELECT c AS r, COUNT(*) AS n_types FROM m GROUP BY c)
       |SELECT CAST(cc.r AS BIGINT) AS r, cc.n_types,
       |  CAST(COALESCE(nx.n_types, 0) AS BIGINT) AS next_types,
       |  CAST(((cc.r + 1) * nx.n_types * 1000000) // cc.n_types AS BIGINT)
       |    AS r_star_ppm
       |FROM cc LEFT JOIN cc nx ON nx.r = cc.r + 1
       |WHERE cc.r <= 12 ORDER BY r""".stripMargin

  // --------------------------------------------------------------------------
  // q303 — AUTOCORRELATION FUNCTION on exact integer sufficient
  // statistics: daily order counts x_t, and for each lag L in 1..14 the
  // Pearson r of (x_t, x_{t+L}) — the seasonality fingerprint (weekly
  // cadence shows as a lag-7 peak). num = n·Σxy − Σx·Σy and the two
  // denominator parts are EXACT BIGINTs (q234's sufficient-stats
  // discipline); only the final r is a double, derived from those exact
  // integers by one fixed IEEE chain.
  //
  // Scale: the corpus collapses to the calendar-day grid in one
  // aggregate; the lag expansion is a 14-row broadcast against that
  // bounded grid with an equi-join on the day index — corpus-size-
  // independent after the first aggregate. Overflow: at the 10× probe
  // daily counts ≈ 2·10³, so n·Σx² ≈ 730·730·4·10⁶ ≈ 2·10¹² « 2⁶³;
  // d1·d2 is computed in doubles (each factor < 2⁵³, exact).
  //
  // Determinism: num/d1/d2 exact; r6 = pround of sqrt/div over exact
  // inputs (correctly-rounded IEEE ops, identical both engines); the
  // degenerate d1·d2 = 0 case ships NULL in both.
  def acf(daily: DataFrame, maxLag: Int): DataFrame = {
    val spark = daily.sparkSession
    val idx = daily
      .withColumn("i", row_number().over(Window.orderBy(col("d"))))
      .select(col("i"), col("x"))
    val lags = spark.range(1, maxLag + 1).select(col("id").cast("int").as("lag"))
    val a = idx.select(col("i").as("ia"), col("x").as("xa"))
    val b = idx.select(col("i").as("ib"), col("x").as("xb"))
    val pairs = a.crossJoin(broadcast(lags))
      .join(b, col("ib") === col("ia") + col("lag"))
    val s = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("d1", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("d2", col("n") * col("syy") - col("sy") * col("sy"))
    s.select(col("lag"), col("n"), col("num"), col("d1"), col("d2"),
      when(col("d1") * col("d2") === 0, lit(null).cast("double"))
        .otherwise(Num.pround(
          col("num").cast("double") /
            sqrt(col("d1").cast("double") * col("d2").cast("double")), 6))
        .as("r6"))
      .orderBy(col("lag"))
  }

  def q303Acf(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
    acf(daily, maxLag = 14)
  }

  val q303Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM daily),
      |pairs AS (
      |  SELECT l.lag, a.x AS xa, b.x AS xb
      |  FROM idx a
      |  CROSS JOIN (SELECT UNNEST(generate_series(1, 14)) AS lag) l
      |  JOIN idx b ON b.i = a.i + l.lag),
      |s AS (
      |  SELECT lag, COUNT(*) AS n, SUM(xa) AS sx, SUM(xb) AS sy,
      |    SUM(xa * xb) AS sxy, SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
      |  FROM pairs GROUP BY lag)
      |SELECT CAST(lag AS INT) AS lag, n,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS d1,
      |  CAST(n * syy - sy * sy AS BIGINT) AS d2,
      |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
      |    ELSE FLOOR((CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |           CAST(n * syy - sy * sy AS DOUBLE))) * 1e6 + 0.5) / 1e6
      |  END AS r6
      |FROM s ORDER BY lag""".stripMargin

  // --------------------------------------------------------------------------
  // q304 — HERFINDAHL–HIRSCHMAN CONCENTRATION per nation: supplier
  // revenue shares (ppm, exact floor-div of exact cent sums), HHI =
  // Σ share², and the effective number of suppliers 1/Σ s² — the
  // standard market-concentration / source-diversity readout (the same
  // arithmetic scores training-data source concentration).
  //
  // Scale: one exact-decimal aggregate per (nation, supplier), one
  // per-nation total equi-joined back, row-local share math, one final
  // per-nation aggregate — two shuffles on bounded-width keys.
  // Overflow: cents ≤ ~2·10¹² per nation at sf0.1 ⇒ 10⁶·rev ≈ 10¹⁷ <
  // 2⁶³ (the 100 TB lift is DECIMAL(38,0) in both engines).
  //
  // Determinism: integers only (share_ppm is quantized BEFORE squaring,
  // so both engines square the same integers).
  def hhi(lineitem: DataFrame, supplier: DataFrame,
          nation: DataFrame): DataFrame = {
    val rev = lineitem
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(expr(
        "sum(cast(floor(l_extendedprice * 100 + 0.5d) as bigint))").as("cents"))
    val tot = rev.groupBy(col("n_name"))
      .agg(sum(col("cents")).as("tot"))
    rev.join(tot, Seq("n_name"))
      .withColumn("share_ppm", expr("(1000000L * cents) div tot"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        max(col("share_ppm")).as("top_share_ppm"),
        sum(col("share_ppm") * col("share_ppm")).as("ss"))
      .withColumn("hhi_ppm", expr("ss div 1000000L"))
      .withColumn("enp_e2", expr("100000000000000L div ss"))
      .select(col("n_name"), col("n_suppliers"), col("top_share_ppm"),
        col("hhi_ppm"), col("enp_e2"))
      .orderBy(col("n_name"))
  }

  def q304Hhi(spark: SparkSession, dir: String): DataFrame =
    hhi(Tables.lineitem(spark, dir), Tables.supplier(spark, dir),
      Tables.nation(spark, dir))

  val q304Sql: String =
    """WITH rev AS (
      |  SELECT n_name, s_suppkey,
      |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT n_name, SUM(cents) AS tot FROM rev GROUP BY 1),
      |sh AS (
      |  SELECT rev.n_name,
      |    CAST((1000000 * cents) // tot AS BIGINT) AS share_ppm
      |  FROM rev JOIN tot USING (n_name))
      |SELECT n_name, COUNT(*) AS n_suppliers,
      |  MAX(share_ppm) AS top_share_ppm,
      |  CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
      |  CAST(100000000000000 // SUM(share_ppm * share_ppm) AS BIGINT) AS enp_e2
      |FROM sh GROUP BY n_name ORDER BY n_name""".stripMargin

  // --------------------------------------------------------------------------
  // q305 — SAX MOTIF COUNTING: symbolize the daily-revenue series into
  // quartile letters a–d (rank-based binning — ntile over the exact cent
  // grid, so no float z-normalization), group the letters into ISO-week
  // words, and count word frequencies — the classic symbolic-aggregate
  // (SAX) motif table for "which weekly shapes recur".
  //
  // Scale: the corpus collapses to the calendar-day grid in one
  // aggregate; everything after (ntile, week grouping, motif counts) is
  // grid-sized. The unpartitioned ntile window is calendar-bounded
  // (q167/q233's class — allowlisted in PlanLintSpec).
  //
  // Determinism: ntile ties are ordered by (cents, d) — total order,
  // identical both engines; outputs are strings and counts.
  def saxMotifs(daily: DataFrame): DataFrame = {
    val lettered = daily
      .withColumn("tile",
        ntile(4).over(Window.orderBy(col("cents"), col("d"))))
      .withColumn("letter", expr("char(tile + 96)"))
      .withColumn("wk", to_date(date_trunc("week", col("d"))))
    lettered.groupBy(col("wk"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(d, letter))), x -> x.letter)"),
        "").as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_weeks"))
      .orderBy(col("word"))
  }

  def q305SaxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(expr(
        "sum(cast(floor(o_totalprice * 100 + 0.5d) as bigint))").as("cents"))
    saxMotifs(daily)
  }

  val q305Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      |  FROM orders GROUP BY 1),
      |lettered AS (
      |  SELECT d,
      |    chr(CAST(96 + NTILE(4) OVER (ORDER BY cents, d) AS INTEGER)) AS letter,
      |    date_trunc('week', d) AS wk
      |  FROM daily),
      |words AS (
      |  SELECT wk, STRING_AGG(letter, '' ORDER BY d) AS word
      |  FROM lettered GROUP BY wk)
      |SELECT word, COUNT(*) AS n_weeks
      |FROM words GROUP BY word ORDER BY word""".stripMargin

  private val catalogD: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q300_kcore_peel", q300KcorePeel _, Some(q300Sql)),
    ("q301_knn_label_audit", q301KnnLabelAudit _, Some(q301Sql)),
    ("q302_good_turing", q302GoodTuring _, Some(q302Sql)),
    ("q303_acf", q303Acf _, Some(q303Sql)),
    ("q304_hhi", q304Hhi _, Some(q304Sql)),
    ("q305_sax_motifs", q305SaxMotifs _, Some(q305Sql)))

  // ═════════════════ formerly Round8gOps ═════════════════
  /** Round-8 seventh operator batch: changepoint-segmented trend fitting
    * and bounded-round bipartite label propagation — composition capstones
    * over q292's split machinery and q300's purchase graph, on the §8.4
    * exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q314 — SEGMENTED TREND FIT: find the single best mean-shift split of
  // the daily-revenue series (q292's exact fixed-point objective, same
  // 10⁷-cent units), then fit an OLS slope per side on exact integer
  // sufficient statistics — slope_ppm = (10⁶·(n·Σiy − Σi·Σy)) div
  // (n·Σi² − (Σi)²), the "did growth change after the break" readout.
  //
  // Scale: the corpus collapses to the calendar-day grid; candidate
  // scan and per-segment sums are grid-sized (q292's discipline).
  // Overflow: y ≈ 250 units at sf0.1 (10⁷-cent grid), i ≤ 730 ⇒
  // n·Σiy ≈ 5·10¹⁰ and 10⁶·num ≈ 5·10¹⁶ « 2⁶³ with 100× headroom.
  def q314SegmentedTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(expr("cast(floor(sum(cast(o_totalprice as decimal(18,2))) * 100 / 1e7) as long)")
        .as("x"))
    segmentedTrend(daily)
  }

  /** q314's core on an explicit (d, x) daily grid — property-testable. */
  private[ops] def segmentedTrend(daily: DataFrame): DataFrame = {
    val grid = daily
      .withColumn("i", row_number().over(Window.orderBy(col("d"))).cast("long"))
      .select(col("i"), col("x"))
    val wCum = Window.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = grid.withColumn("cs", sum(col("x")).over(wCum))
      .select(col("i"), col("cs"))
    val tot = pre.agg(max(col("i")).as("n"), max(col("cs")).as("stot"))
    val split = pre.crossJoin(broadcast(tot)).filter(col("i") < col("n"))
      .withColumn("gain", expr(
        "(10000L * cs * cs) div i + (10000L * (stot - cs) * (stot - cs)) div (n - i)"))
      .agg(max(struct(col("gain"), (-col("i")).as("ni"))).as("m"))
      .select((-col("m.ni")).as("s1"))
    val seg = grid.crossJoin(broadcast(split))
      .withColumn("segment",
        when(col("i") <= col("s1"), lit("before")).otherwise(lit("after")))
    seg.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_days"), max(col("s1")).as("split_day"),
        sum(col("i")).as("si"), sum(col("x")).as("sy"),
        sum(col("i") * col("x")).as("siy"), sum(col("i") * col("i")).as("sii"))
      .withColumn("num", expr("n_days * siy - si * sy"))
      .withColumn("den", expr("n_days * sii - si * si"))
      // a 1-day segment has den = 0: undefined slope, not an error
      .withColumn("slope_ppm",
        expr("case when den = 0L then null else (1000000L * num) div den end"))
      .select(col("segment"), col("n_days"), col("split_day"),
        col("num"), col("den"), col("slope_ppm"))
      .orderBy(col("segment"))
  }

  val q314Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 / 1e7)
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |grid AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM daily),
      |pre AS (
      |  SELECT i, SUM(x) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS cs
      |  FROM grid),
      |tot AS (SELECT MAX(i) AS n, MAX(cs) AS stot FROM pre),
      |cand AS (
      |  SELECT i,
      |    (10000 * cs * cs) // i + (10000 * (stot - cs) * (stot - cs)) // (n - i)
      |      AS gain
      |  FROM pre CROSS JOIN tot WHERE i < n),
      |split AS (
      |  SELECT i AS s1 FROM cand
      |  ORDER BY gain DESC, i ASC LIMIT 1),
      |seg AS (
      |  SELECT CASE WHEN i <= s1 THEN 'before' ELSE 'after' END AS segment,
      |    i, x, s1
      |  FROM grid CROSS JOIN split),
      |st AS (
      |  SELECT segment, COUNT(*) AS n_days, MAX(s1) AS split_day,
      |    SUM(i) AS si, SUM(x) AS sy, SUM(i * x) AS siy, SUM(i * i) AS sii
      |  FROM seg GROUP BY 1)
      |SELECT segment, n_days, CAST(split_day AS BIGINT) AS split_day,
      |  CAST(n_days * siy - si * sy AS BIGINT) AS num,
      |  CAST(n_days * sii - si * si AS BIGINT) AS den,
      |  CASE WHEN n_days * sii - si * si = 0 THEN NULL
      |    ELSE CAST((1000000 * (n_days * siy - si * sy))
      |      // (n_days * sii - si * si) AS BIGINT) END AS slope_ppm
      |FROM st ORDER BY segment""".stripMargin

  // --------------------------------------------------------------------------
  // q315 — BOUNDED-ROUND LABEL PROPAGATION over the customer–part
  // purchase graph (side-synchronous bipartite LPA): labels start as
  // disjoint node ids (2·ck for customers, 2·pk+1 for parts); each round
  // updates customers from their parts' labels, then parts from the NEW
  // customer labels (Gauss–Seidel by side — the standard bipartite
  // schedule), mode with (count desc, min label) tie-break. The readout
  // is the per-round CONVERGENCE TRAJECTORY — surviving label count and
  // the dominant community's (label, size) — q300's profile style: on
  // the real purchase graph LPA floods to ONE community within 3 rounds
  // (the same density q300's k-core measures), and the trajectory is
  // the informative artifact, not the degenerate final partition.
  //
  // Scale: each half-round is one equi-join on the edge key + one hash
  // aggregate + one per-node argmax (struct-min, map-side partial) —
  // rounds bounded at 3, all shuffles on node ids. The edge list and
  // every half-round label frame get a LAZY localCheckpoint: the plan
  // flattens to a LogicalRDD (the label frame feeds the NEXT half-round
  // AND the round's stats aggregate, so an unflattened subtree would
  // double per half-round), and eager=false lets the per-round stats —
  // 1-row aggregates UNIONed into one lazy plan — execute as a single
  // final action with RDD-level stage reuse instead of 2·rounds+1 eager
  // jobs (measured 9.0 s → 4.8 s at sf0.1; the edge-list materialization
  // alone was the round-8 6.5 s → 2.5 s fix, now subsumed).
  //
  // Checkpoint lifecycle (CALLER contract): the returned trajectory plan
  // references every half-round's frame, so per-round release is
  // impossible by design — after consuming the result, call
  // `Checkpoints.release(result)` (frees all rounds reachable from the
  // plan) or the harness `Checkpoints.releaseAll(spark)` sweep, or a
  // long-lived session accumulates pinned blocks per call. Pinned by
  // CheckpointLifecycleSpec.
  def lpaCommunities(edges0: DataFrame, rounds: Int): DataFrame = {
    val edges = edges0.localCheckpoint(false)
    def half(msgs: DataFrame, node: String): DataFrame =
      msgs.groupBy(col(node), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col(node))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl"))).as("m"))
        .select(col(node), col("m.lbl").as("lbl"))
    def stats(lc: DataFrame, lp: DataFrame, r: Int): DataFrame =
      lc.select(col("lbl")).union(lp.select(col("lbl")))
        .groupBy(col("lbl")).agg(count(lit(1)).as("size"))
        .agg(count(lit(1)).as("n_labels"),
          min(struct((-col("size")).as("ns"), col("lbl"))).as("m"))
        .select(lit(r).as("round"), col("n_labels"),
          col("m.lbl").as("top_lbl"), (-col("m.ns")).as("top_size"))
    var lc = edges.select(col("ck")).distinct()
      .withColumn("lbl", col("ck") * 2).localCheckpoint(false)
    var lp = edges.select(col("pk")).distinct()
      .withColumn("lbl", col("pk") * 2 + 1).localCheckpoint(false)
    var out = stats(lc, lp, 0)
    for (r <- 1 to rounds) {
      lc = half(edges.join(lp, Seq("pk")), "ck").localCheckpoint(false)
      lp = half(edges.join(lc, Seq("ck")), "pk").localCheckpoint(false)
      out = out.union(stats(lc, lp, r))
    }
    val result = out.orderBy(col("round"))
    // the edge list feeds only already-checkpointed half-rounds, so it is
    // invisible to the returned plan — link it so release(result) frees it
    Checkpoints.link(result, edges)
    result
  }

  /** [[lpaCommunities]] with the Gauss–Seidel half-rounds on RAW RDDs —
    * the q255 iterative-tail treatment tried on LPA, kept as a MEASURED
    * NEGATIVE (SURVEY §8.28, the q82 eager-revert precedent): a
    * same-JVM alternating A/B over the real sf0.1 edge list (~0.5M
    * distinct (ck, pk) pairs, ~1.1M label messages per round) measured
    * the fused DataFrame loop FASTER warm — 4.6-4.7 s vs 6.6-7.2 s for
    * this loop — because per-round message volume is DATA-sized there,
    * and Tungsten's codegen'd hash aggregate beats map-side HashMap
    * combiners on real volume. The RDD-inner-loop lever pays only where
    * the per-round frames are GRID-sized and the cost is Catalyst
    * bookkeeping, as in q255's supplier-bounded star loop (hundreds of
    * rows per round); q315 therefore stays on [[lpaCommunities]]. (Cold,
    * this loop wins — 9.3 vs 18.1 s first run, no plan to compile — but
    * the bench and any long-lived session are warm.)
    *
    * Mechanics, for the narrow-scope cases where it DOES apply: edge
    * list hash-partitioned once per direction and persisted; each
    * half-round is one map-side-combined `aggregateByKey` (label-count
    * maps, then the (count DESC, label ASC) pick — identical tie-break
    * to the DataFrame's min(struct(-cnt, lbl))); one reduce action per
    * trajectory row; no Catalyst past the edge extraction. Null
    * endpoints are filtered at the typed boundary (the graph-family
    * contract). Trajectory-identity to the DataFrame form is
    * ScalaCheck-proven on random bipartite graphs.
    */
  def lpaCommunitiesRdd(edges0: DataFrame, rounds: Int, parts: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val part = new org.apache.spark.HashPartitioner(parts)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges0.toDF("ck", "pk")
      .filter(col("ck").isNotNull && col("pk").isNotNull)
      .as[(Long, Long)].rdd
    val byCk = e.partitionBy(part).persist(lvl)
    val byPk = e.map(_.swap).partitionBy(part).persist(lvl)
    // (node, incoming label) messages → (node, winning label): ONE
    // shuffle via map-side-combined label-count maps, then a row-local
    // (count DESC, label ASC) argmax — the DataFrame form's
    // min(struct(-cnt, lbl)) tie-break, op-for-op
    def half(msgs: org.apache.spark.rdd.RDD[(Long, Long)]) =
      msgs.aggregateByKey(
          scala.collection.mutable.HashMap.empty[Long, Long], part)(
          (m, l) => { m.update(l, m.getOrElse(l, 0L) + 1L); m },
          (a, b) => { b.foreach { case (l, c) => a.update(l, a.getOrElse(l, 0L) + c) }; a })
        .mapValues { m =>
          var bl = 0L; var bc = -1L
          m.foreach { case (l, c) => if (c > bc || (c == bc && l < bl)) { bl = l; bc = c } }
          bl
        }
    var lc = byCk.keys.distinct(parts).map(k => (k, k * 2)).partitionBy(part).persist(lvl)
    var lp = byPk.keys.distinct(parts).map(k => (k, k * 2 + 1)).partitionBy(part).persist(lvl)
    // one reduce action per trajectory row; empty partitions emit a
    // neutral element so reduce() is total even on an empty graph
    def stats(r: Int): (Int, Long, Option[Long], Option[Long]) = {
      val sizes = lc.values.map((_, 1L)).union(lp.values.map((_, 1L)))
        .reduceByKey(_ + _, parts)
      val (n, top) = sizes.mapPartitions { it =>
        var n = 0L; var best: (Long, Long) = null // (size, lbl): max size, then min lbl
        it.foreach { case (l, s) =>
          n += 1
          if (best == null || s > best._1 || (s == best._1 && l < best._2)) best = (s, l)
        }
        Iterator((n, best))
      }.reduce { case ((n1, b1), (n2, b2)) =>
        val b = if (b1 == null) b2 else if (b2 == null) b1
          else if (b1._1 > b2._1 || (b1._1 == b2._1 && b1._2 < b2._2)) b1 else b2
        (n1 + n2, b)
      }
      (r, n, Option(top).map(_._2), Option(top).map(_._1))
    }
    val out = Vector.newBuilder[(Int, Long, Option[Long], Option[Long])]
    out += stats(0)
    for (r <- 1 to rounds) {
      // Gauss–Seidel: the pk half-round consumes the ck half-round's NEW
      // labels, mirroring the DataFrame loop's update order exactly
      val lcNew = half(byPk.join(lp, part).values).persist(lvl)
      val lpNew = half(byCk.join(lcNew, part).values).persist(lvl)
      val (oldC, oldP) = (lc, lp)
      lc = lcNew; lp = lpNew
      out += stats(r) // the round's one action — materializes both halves
      oldC.unpersist(blocking = false); oldP.unpersist(blocking = false)
    }
    byCk.unpersist(blocking = false); byPk.unpersist(blocking = false)
    lc.unpersist(blocking = false); lp.unpersist(blocking = false)
    out.result().toDF("round", "n_labels", "top_lbl", "top_size")
      .orderBy(col("round"))
  }

  def q315LpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct()
    // stays on the fused DataFrame loop: the per-round message volume is
    // data-sized here, where the RDD inner loop measured SLOWER warm —
    // see the A/B recorded on lpaCommunitiesRdd's scaladoc
    lpaCommunities(edges, rounds = 3)
  }

  val q315Sql: String = {
    // one half-round: mode of the opposite side's labels with
    // (count desc, min label) tie-break
    def half(out: String, nodeCol: String, src: String, joinKey: String): String =
      s"""$out AS (
         |  SELECT $nodeCol, lbl FROM (
         |    SELECT $nodeCol, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY $nodeCol
         |        ORDER BY cnt DESC, lbl ASC) AS rn
         |    FROM (SELECT e.$nodeCol, s.lbl, COUNT(*) AS cnt
         |          FROM e JOIN $src s USING ($joinKey)
         |          GROUP BY e.$nodeCol, s.lbl))
         |  WHERE rn = 1)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |lc0 AS (SELECT DISTINCT ck, 2 * ck AS lbl FROM e),
       |lp0 AS (SELECT DISTINCT pk, 2 * pk + 1 AS lbl FROM e),
       |${half("lc1", "ck", "lp0", "pk")},
       |${half("lp1", "pk", "lc1", "ck")},
       |${half("lc2", "ck", "lp1", "pk")},
       |${half("lp2", "pk", "lc2", "ck")},
       |${half("lc3", "ck", "lp2", "pk")},
       |${half("lp3", "pk", "lc3", "ck")},
       |${sz(0)},
       |${sz(1)},
       |${sz(2)},
       |${sz(3)}
       |${st(0)}
       |UNION ALL ${st(1)}
       |UNION ALL ${st(2)}
       |UNION ALL ${st(3)}
       |ORDER BY round""".stripMargin
  }

  /** Per-round community-size CTE and trajectory row for the q315 oracle. */
  private def sz(r: Int): String =
    s"""sz$r AS (
       |  SELECT lbl, COUNT(*) AS size FROM (
       |    SELECT lbl FROM lc$r UNION ALL SELECT lbl FROM lp$r)
       |  GROUP BY lbl)""".stripMargin

  private def st(r: Int): String =
    s"""SELECT $r AS round, (SELECT COUNT(*) FROM sz$r) AS n_labels,
       |  (SELECT lbl FROM sz$r ORDER BY size DESC, lbl LIMIT 1) AS top_lbl,
       |  (SELECT size FROM sz$r ORDER BY size DESC, lbl LIMIT 1) AS top_size""".stripMargin

  private val catalogG: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q314_segmented_trend", q314SegmentedTrend _, Some(q314Sql)),
    ("q315_lpa_communities", q315LpaCommunities _, Some(q315Sql)))

  // ═════════════════ formerly Round8sOps ═════════════════
  /** Round-8 nineteenth operator batch: Adamic–Adar link prediction and
    * dyadic-EWMA anomaly bands — graph-completion and time-series
    * monitoring surface on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q343 — ADAMIC–ADAR LINK PREDICTION on the co-purchase graph
  // (q206's edge definition: part pairs co-ordered ≥ 2 times): for every
  // non-adjacent pair with common neighbors, AA = Σ_z 1/ln(deg z) over
  // shared neighbors z — rare connectors count more than hubs. Per-
  // center weights are pre-quantized to the exact integer
  // w_z = floor(10⁶/ln(deg_z)) so the pair score is an order-free
  // BIGINT SUM (no float accumulation across an unordered aggregate —
  // the one ln() per DISTINCT DEGREE is the same single-transcendental
  // class §8.4 already accepts for pround; quantizing per center, not
  // per pair, keeps any boundary flip localized and ~10⁻¹⁰-probable).
  // Ships the top-20 predicted links with score and common-neighbor
  // count — "which parts will be bought together next".
  //
  // Scale: wedges enumerate per-center neighbor pairs — Σ_z deg(z)²
  // — so super-connector centers (deg > 256) are dropped, the
  // standard AA guard (their 1/ln weight is noise anyway; the cap is
  // part of the operator contract and mirrored in the oracle). The
  // existing-edge exclusion is a broadcast-free left-anti equi-join.
  def adamicAdar(edges: DataFrame, degCap: Int, topK: Int): DataFrame = {
    val deg = CurateOps.degreeOf(edges)
    val adj = edges.select(col("p1").as("z"), col("p2").as("nb"))
      .unionAll(edges.select(col("p2").as("z"), col("p1").as("nb")))
    val centers = deg.filter(col("d") >= 2 && col("d") <= degCap)
      .withColumn("w", expr("cast(floor(1000000d / ln(cast(d as double))) as bigint)"))
      .select(col("v").as("z"), col("w"))
    // per-center wedge fan-out is ROW-LOCAL under the degree cap (the
    // centers filter keeps only z with d ≤ degCap, so each collected
    // neighbor list is ≤ degCap entries): one bounded nested transform
    // replaces the wedge self-join, which shuffled the weighted adjacency
    // twice and sort-merge-joined it with itself (8 SortMergeJoins in the
    // r14 plan dump). Neighbor lists are distinct per center (edges are
    // deduplicated), so sort_array gives each a < b wedge exactly once.
    val width = edges.sparkSession.sparkContext.defaultParallelism
    val nbrs = adj.join(centers, Seq("z"))
      .repartition(width, col("z"))
      .groupBy(col("z"))
      .agg(min(col("w")).as("w"), sort_array(collect_list(col("nb"))).as("nbs"))
    val scored = nbrs
      .select(col("w"), explode(expr(
        """flatten(transform(nbs, (x, k) ->
          |  transform(slice(nbs, k + 2, size(nbs)), y ->
          |    named_struct('a', x, 'b', y))))""".stripMargin)).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(sum(col("w")).as("aa_score"), count(lit(1)).as("common_n"))
    scored
      .join(edges, scored("a") === edges("p1") && scored("b") === edges("p2"),
        "left_anti")
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(topK)
  }

  def q343AdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val edges = CurateOps.coOrderedPairCounts(Tables.lineitem(spark, dir))
      .filter(col("c12") >= 2).select(col("p1"), col("p2"))
      .localCheckpoint()
    adamicAdar(edges, degCap = 256, topK = 20)
  }

  val q343Sql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |edges AS (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT v, COUNT(*) AS d FROM (
      |    SELECT p1 AS v FROM edges UNION ALL SELECT p2 FROM edges)
      |  GROUP BY v),
      |ctr AS (
      |  SELECT v AS z, CAST(FLOOR(1000000 / LN(CAST(d AS DOUBLE))) AS BIGINT) AS w
      |  FROM deg WHERE d BETWEEN 2 AND 256),
      |adj AS (
      |  SELECT p1 AS z, p2 AS nb FROM edges
      |  UNION ALL SELECT p2, p1 FROM edges),
      |wadj AS (SELECT adj.z, nb, w FROM adj JOIN ctr USING (z)),
      |sc AS (
      |  SELECT l.nb AS a, r.nb AS b, SUM(l.w) AS aa_score,
      |    COUNT(*) AS common_n
      |  FROM wadj l JOIN wadj r ON l.z = r.z AND l.nb < r.nb
      |  GROUP BY 1, 2)
      |SELECT a, b, CAST(aa_score AS BIGINT) AS aa_score,
      |  CAST(common_n AS BIGINT) AS common_n
      |FROM sc ANTI JOIN edges ON sc.a = edges.p1 AND sc.b = edges.p2
      |ORDER BY aa_score DESC, a, b LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // q344 — DYADIC-EWMA ANOMALY BANDS on the daily order-count series:
  // level_t = EWMA(α = ½) of the PRIOR 30 days, dev_t = |x_t − level_t|,
  // band_t = EWMA(α = ½) of the prior deviations, and the alert ratio
  // dev/band — the classic self-normalizing monitor (an EWMA control
  // chart), shipped as the top-20 most anomalous days. α = ½ makes the
  // truncated kernel EXACT dyadic integers: weight(lag k) = 1 << (31−k),
  // so level/band are pure BIGINT dot products normalized by the exact
  // geometric partial sum — not a single float anywhere (§8.4), and no
  // sequential recursion: the truncation error of the 30-lag kernel is
  // 2⁻³⁰, far below the ppm grid.
  //
  // Scale: the corpus collapses to the calendar grid; both EWMA passes
  // are the grid × a provably-23-row broadcast lag range, joined equi
  // on the shifted index. Overflow headroom: Σw = 2²⁴−2 ≈ 1.7·10⁷, so
  // the level pass (10⁶·Σ w·x ≤ 10⁶·1.7·10⁷·10⁴ ≈ 10¹⁷) and the band
  // pass (Σ w·dev_ppm ≤ 1.7·10⁷·10¹⁰ ≈ 10¹⁷ — dev is already in ppm,
  // so NO extra 10⁶ there) both stay inside BIGINT at 10× sf1.
  def ewmaBands(orders: DataFrame, spark: SparkSession, topK: Int): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(Window.orderBy(col("d"))).cast("long"))
      .localCheckpoint()
    val lags = spark.range(1, 24)
      .select(col("id").as("k"), expr("shiftleft(1L, cast(24 - id as int))").as("w"))
    def priorEwma(series: DataFrame, vcol: String, scale: Long, out: String): DataFrame =
      series.select(col("i").as("bi"), col(vcol).as("bv"))
        .crossJoin(broadcast(lags))
        .withColumn("ai", col("bi") + col("k"))
        .groupBy(col("ai").as("i"))
        .agg(expr(s"(${scale}L * sum(w * bv)) div sum(w)").as(out))
    val lev = priorEwma(daily, "x", 1000000L, "lev_ppm")
    val dev = daily.join(lev, Seq("i"))
      .withColumn("dev_ppm", abs(lit(1000000L) * col("x") - col("lev_ppm")))
      .localCheckpoint()
    val band = priorEwma(
      dev.select(
        // re-index the dev series (it starts at i = 2) so the band
        // kernel sees contiguous lag positions
        (col("i") - 1L).as("i"), col("dev_ppm")), "dev_ppm", 1L, "band_ppm")
    dev.withColumn("bi", col("i") - 1L)
      .join(band.select(col("i").as("bi"), col("band_ppm")), Seq("bi"))
      .filter(col("band_ppm") > 0L)
      .withColumn("ratio_ppm", expr("(1000000L * dev_ppm) div band_ppm"))
      .select(col("d"), col("x"), col("lev_ppm"), col("dev_ppm"),
        col("band_ppm"), col("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("d"))
      .limit(topK)
  }

  def q344EwmaBands(spark: SparkSession, dir: String): DataFrame =
    ewmaBands(Tables.orders(spark, dir), spark, topK = 20)

  val q344Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, d, x FROM daily),
      |lags AS (
      |  SELECT k, (1::BIGINT << (24 - k)) AS w
      |  FROM UNNEST(generate_series(1, 23)) AS u(k)),
      |lev AS (
      |  SELECT b.i + k AS i,
      |    (1000000 * SUM(w * b.x)) // SUM(w) AS lev_ppm
      |  FROM idx b CROSS JOIN lags GROUP BY 1),
      |dev AS (
      |  SELECT idx.i, d, x, lev_ppm,
      |    ABS(1000000 * x - lev_ppm) AS dev_ppm
      |  FROM idx JOIN lev ON idx.i = lev.i),
      |band AS (
      |  SELECT (b.i - 1) + k AS bi,
      |    SUM(w * b.dev_ppm) // SUM(w) AS band_ppm
      |  FROM dev b CROSS JOIN lags GROUP BY 1),
      |fin AS (
      |  SELECT d, x, lev_ppm, dev_ppm, band_ppm
      |  FROM dev JOIN band ON dev.i - 1 = band.bi)
      |SELECT d, x, CAST(lev_ppm AS BIGINT) AS lev_ppm,
      |  CAST(dev_ppm AS BIGINT) AS dev_ppm,
      |  CAST(band_ppm AS BIGINT) AS band_ppm,
      |  CAST((1000000 * dev_ppm) // band_ppm AS BIGINT) AS ratio_ppm
      |FROM fin WHERE band_ppm > 0
      |ORDER BY ratio_ppm DESC, d LIMIT 20""".stripMargin

  private val catalogS: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q343_adamic_adar", q343AdamicAdar _, Some(q343Sql)),
    ("q344_ewma_bands", q344EwmaBands _, Some(q344Sql)))

  // ═════════════════ formerly Round8vOps ═════════════════
  /** Round-8 twenty-second operator batch: Granger-style lead-lag F-test
    * and HITS hubs/authorities — causal-screening and bipartite-ranking
    * surface on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q349 — GRANGER-STYLE LEAD-LAG F-TEST: does yesterday's ORDER VOLUME
  // improve today's REVENUE forecast beyond revenue's own history?
  // (q339 measures the lagged correlation; this is the conditional
  // version that controls for autocorrelation — the difference between
  // "x leads y" and "x merely trends with y".) Restricted model
  // y_t ~ y_{t−1} vs full y_t ~ y_{t−1} + x_{t−1};
  // F = (n−3)·(RSS_r − RSS_f)/RSS_f. All nine sufficient statistics are
  // exact BIGINTs on the calendar grid (revenue on q314's 10⁷-cent
  // grid); centered moments C_ab = n·Σab − Σa·Σb ship exactly and every
  // derived number (Cramer 2-var slopes, RSS ratio, F) is a fixed
  // double-op dag over them + pround (§8.4).
  //
  // Scale: the corpus collapses to the calendar grid; the lag pairing
  // is one equi-join on the shifted index.
  def grangerLite(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"),
        expr("cast(floor(sum(cast(o_totalprice as decimal(18,2))) * 100 / 1e7) as long)")
          .as("y"))
      .withColumn("i", row_number().over(Window.orderBy(col("d"))).cast("long"))
    val cur = daily.select(col("i"), col("y"))
    val prev = daily.select((col("i") + 1L).as("i"),
      col("y").as("l"), col("x").as("xl"))
    val m = cur.join(prev, Seq("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("l")).as("sl"), sum(col("xl")).as("sx"),
        sum(col("y") * col("l")).as("syl"), sum(col("y") * col("xl")).as("syx"),
        sum(col("l") * col("l")).as("sll"), sum(col("xl") * col("xl")).as("sxx"),
        sum(col("l") * col("xl")).as("slx"),
        sum(col("y") * col("y")).as("syy"))
    m.select(col("n"),
        expr("n * syy - sy * sy").as("cyy"),
        expr("n * sll - sl * sl").as("cll"),
        expr("n * sxx - sx * sx").as("cxx"),
        expr("n * syl - sy * sl").as("cyl"),
        expr("n * syx - sy * sx").as("cyx"),
        expr("n * slx - sl * sx").as("clx"))
      .withColumn("det", expr("cast(cll as double) * cxx - cast(clx as double) * clx"))
      .withColumn("b", expr("(cast(cyl as double) * cxx - cast(cyx as double) * clx) / det"))
      .withColumn("c", expr("(cast(cyx as double) * cll - cast(cyl as double) * clx) / det"))
      .withColumn("rss_f", expr("cast(cyy as double) - b * cyl - c * cyx"))
      .withColumn("rss_r", expr("cast(cyy as double) - (cast(cyl as double) / cll) * cyl"))
      .withColumn("f", expr("(n - 3L) * (rss_r - rss_f) / rss_f"))
      .select(col("n"), col("cyy"), col("cll"), col("cxx"), col("cyl"),
        col("cyx"), col("clx"),
        Num.pround(col("b"), 6).as("b_own6"),
        Num.pround(col("c"), 6).as("c_cross6"),
        Num.pround(col("f"), 4).as("f4"))
  }

  def q349GrangerLite(spark: SparkSession, dir: String): DataFrame =
    grangerLite(Tables.orders(spark, dir))

  val q349Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x,
      |    CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 / 1e7)
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x, y FROM daily),
      |j AS (
      |  SELECT a.y AS y, b.y AS l, b.x AS xl
      |  FROM idx a JOIN idx b ON a.i = b.i + 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(l) AS sl, SUM(xl) AS sx,
      |    SUM(y * l) AS syl, SUM(y * xl) AS syx, SUM(l * l) AS sll,
      |    SUM(xl * xl) AS sxx, SUM(l * xl) AS slx, SUM(y * y) AS syy
      |  FROM j),
      |cm AS (
      |  SELECT n,
      |    n * syy - sy * sy AS cyy, n * sll - sl * sl AS cll,
      |    n * sxx - sx * sx AS cxx, n * syl - sy * sl AS cyl,
      |    n * syx - sy * sx AS cyx, n * slx - sl * sx AS clx
      |  FROM m),
      |dd AS (
      |  SELECT *,
      |    CAST(cll AS DOUBLE) * cxx - CAST(clx AS DOUBLE) * clx AS det
      |  FROM cm),
      |bb AS (
      |  SELECT *,
      |    (CAST(cyl AS DOUBLE) * cxx - CAST(cyx AS DOUBLE) * clx) / det AS b,
      |    (CAST(cyx AS DOUBLE) * cll - CAST(cyl AS DOUBLE) * clx) / det AS c
      |  FROM dd),
      |rr AS (
      |  SELECT *,
      |    CAST(cyy AS DOUBLE) - b * cyl - c * cyx AS rss_f,
      |    CAST(cyy AS DOUBLE) - (CAST(cyl AS DOUBLE) / cll) * cyl AS rss_r
      |  FROM bb)
      |SELECT CAST(n AS BIGINT) AS n, CAST(cyy AS BIGINT) AS cyy,
      |  CAST(cll AS BIGINT) AS cll, CAST(cxx AS BIGINT) AS cxx,
      |  CAST(cyl AS BIGINT) AS cyl, CAST(cyx AS BIGINT) AS cyx,
      |  CAST(clx AS BIGINT) AS clx,
      |  FLOOR((b) * 1e6 + 0.5) / 1e6 AS b_own6,
      |  FLOOR((c) * 1e6 + 0.5) / 1e6 AS c_cross6,
      |  FLOOR(((n - 3) * (rss_r - rss_f) / rss_f) * 1e4 + 0.5) / 1e4 AS f4
      |FROM rr""".stripMargin

  // --------------------------------------------------------------------------
  // q350 — HITS HUBS & AUTHORITIES on the bipartite supplier→part
  // supply graph: eight synchronous h = Σa / a = Σh iterations with
  // L1 floor-renormalization to the 10⁶ ppm grid each half-step —
  // ENTIRELY exact fixed-point arithmetic, q340's power-iteration
  // discipline (its Markov chain is the stochastic cousin; HITS is the
  // bipartite SVD cousin). Readout: the top-10 authority parts with
  // their ppm mass — "which parts anchor the supply network". q120's
  // PageRank ranks a directed unipartite graph; HITS is the two-sided
  // ranking a procurement/recsys pipeline wants on interaction data.
  //
  // Scale: the edge list (distinct supplier→part) materializes once;
  // each half-step joins it to the broadcast score grid, with a LAZY
  // localCheckpoint of the authority frame per round. The checkpoint
  // flattens the logical plan to a LogicalRDD, so the plan depth stays
  // constant across rounds (measured: the uncheckpointed form never
  // finished at sf0.1); lazy (not eager) collapses the per-round
  // checkpoint jobs into ONE final action whose shared shuffle stages
  // dedup at the RDD level (measured 14.9 s → 5.9 s at sf0.1).
  /** Score frames are |node|-row grids, so each half-step is ONE plan —
    * e BHJ-joins the broadcast score frame (the edge list never
    * shuffles), partial-aggregates map-side, and renormalizes via a
    * window total over the grid — and the round costs exactly one
    * broadcast-build job. Round-10 rebuild: the old equi-join form
    * re-shuffled + re-sorted the edge list 16 times and ran 3
    * broadcast-total jobs per round — the decade probe showed the wall
    * was round scheduling, not data (6.4 s → ~2 s at sf0.1).
    *
    * The loop body plans inside [[graft.GraftSession.withConf]] (4
    * shuffle partitions, AQE off, on a child session; lazy
    * localCheckpoint pins each round's plan at creation): per-round
    * frames are |nodes| rows, never |edges|, so 32 reduce tasks × 17
    * rounds was pure scheduling overhead at local[32] (measured on q350:
    * 5.8 s → 2.8 s at sf0.1).
    *
    * Checkpoint lifecycle (CALLER contract): per-iteration frames are
    * lazily checkpointed and all stay reachable from the returned plan —
    * after consuming the result, call `Checkpoints.release(result)` or
    * the harness `Checkpoints.releaseAll(spark)` sweep, or a long-lived
    * session accumulates pinned blocks per call. Pinned by
    * CheckpointLifecycleSpec.
    */
  def hits(edges: DataFrame, iters: Int, topK: Int): DataFrame = {
    val spark = edges.sparkSession
    // the edge list is checkpointed BEFORE the scope at the session's
    // full shuffle width (it is |edges|-sized, the one genuinely
    // data-sized step here)
    val e = edges.toDF("s", "p").localCheckpoint()
    // checkpointed frames the returned plan will NOT reference (the edge
    // list + superseded score rounds) — linked to the result on return so
    // a caller's release(result) frees them without the harness sweep
    val feeders = scala.collection.mutable.ListBuffer[DataFrame](e)
    // AQE re-plans at every materialized exchange — with ~3 stages ×
    // 16 half-step jobs over grid-sized frames, that bookkeeping IS the
    // bill (the partition counts are already pinned; there is nothing
    // for AQE to adapt)
    val width = 4
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString,
        "spark.sql.adaptive.enabled" -> "false") { child =>
      val ce = GraftSession.bind(child, e)
      val parts = ce.select(col("p")).distinct()
      val np = parts.agg(count(lit(1)).as("k"))
      // narrow (shuffle-free) merge down to the round width: 16 half-step
      // scans at 32 tasks each was launch overhead, not parallelism — the
      // whole edge list fits a handful of in-memory partitions here
      val eLoop = ce.coalesce(width * 2)
      var auth = parts.crossJoin(broadcast(np))
        .select(col("p"), expr("1000000L div k").as("a"))
        .localCheckpoint(false)
      feeders += auth
      for (_ <- 1 to iters) {
        // hub is deliberately NOT checkpointed: it is referenced exactly
        // once (inside auth's broadcast build), and auth's own per-round
        // checkpoint keeps the plan depth constant. (A fully lazy
        // single-plan variant with shuffle-hash joins and no broadcasts
        // was measured at 8.8 s — 16 re-shuffles of the edge list cost
        // more than 16 grid-sized broadcast builds.)
        val hub = eLoop.join(broadcast(auth), Seq("p"))
          .groupBy(col("s")).agg(sum(col("a")).as("h0"))
          .select(col("s"), expr("(1000000L * h0) div (sum(h0) over ())").as("h"))
        auth = eLoop.join(broadcast(hub), Seq("s"))
          .groupBy(col("p")).agg(sum(col("h")).as("a0"))
          .select(col("p"), expr("(1000000L * a0) div (sum(a0) over ())").as("a"))
          .localCheckpoint(false)
        feeders += auth
      }
      val result = auth.orderBy(col("a").desc, col("p")).limit(topK)
        .select(col("p").as("part"), col("a").as("authority_ppm"))
      Checkpoints.link(result, feeders.toSeq: _*)
      result
    }
  }

  def q350Hits(spark: SparkSession, dir: String): DataFrame =
    hits(Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_partkey")).distinct(),
      iters = 8, topK = 10)

  val q350Sql: String = {
    def step(prev: String, i: Int): String =
      s"""h${i}_r AS MATERIALIZED (
         |  SELECT s, SUM(a) AS h0 FROM e JOIN $prev USING (p) GROUP BY s),
         |h${i}_t AS (SELECT SUM(h0) AS ht FROM h${i}_r),
         |h$i AS MATERIALIZED (
         |  SELECT s, (1000000 * h0) // ht AS h FROM h${i}_r CROSS JOIN h${i}_t),
         |a${i}_r AS MATERIALIZED (
         |  SELECT p, SUM(h) AS a0 FROM e JOIN h$i USING (s) GROUP BY p),
         |a${i}_t AS (SELECT SUM(a0) AS at FROM a${i}_r),
         |a$i AS MATERIALIZED (
         |  SELECT p, (1000000 * a0) // at AS a FROM a${i}_r CROSS JOIN a${i}_t)""".stripMargin
    val steps = (1 to 8).map(i => step(if (i == 1) "a0x" else s"a${i - 1}", i))
      .mkString(",\n|")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |pp AS (SELECT DISTINCT p FROM e),
       |kk AS (SELECT COUNT(*) AS k FROM pp),
       |a0x AS (SELECT p, 1000000 // k AS a FROM pp CROSS JOIN kk),
       |$steps
       |SELECT p AS part, CAST(a AS BIGINT) AS authority_ppm
       |FROM a8 ORDER BY a DESC, p LIMIT 10""".stripMargin
  }

  private val catalogV: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q349_granger_lite", q349GrangerLite _, Some(q349Sql)),
    ("q350_hits", q350Hits _, Some(q350Sql)))

  // ═════════════════ formerly Round8pOps ═════════════════
  /** Round-8 sixteenth operator batch: categorical assortativity over the
    * trade graph and deterministic span-corruption planning — graph-mixing
    * and pretraining-data surface on the §8.4 exact-integer discipline.
    */

  // --------------------------------------------------------------------------
  // q337 — TRADE HOMOPHILY (categorical assortativity): the customer-
  // nation × supplier-nation mixing matrix over lineitem trade edges,
  // with Newman's categorical assortativity coefficient — which is
  // EXACTLY Cohen's κ on the edge-endpoint contingency (r = (Σeᵢᵢ −
  // Σaᵢbᵢ)/(1 − Σaᵢbᵢ) in edge fractions = q324's integer formula), so
  // the q324 machinery is reused verbatim and every cell stays an exact
  // BIGINT. "Do customers buy domestically" as one ppm number plus the
  // 25×25 matrix.
  //
  // Scale: one fact-scan join to the two broadcast nation-key sides,
  // then q324's grid-sized contingency math.
  def q337TradeHomophily(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val cust = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("cn"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cn"))
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("sn"))
    val labels = li
      .join(cust, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("cn").cast("long").as("a"), col("sn").cast("long").as("b"))
    EvalReplayOps.cohenKappa(labels)
      .withColumnRenamed("a", "cust_nation")
      .withColumnRenamed("b", "supp_nation")
      .withColumnRenamed("kappa_ppm", "homophily_ppm")
  }

  val q337Sql: String =
    """WITH lab AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS a,
      |    CAST(s.s_nationkey AS BIGINT) AS b
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |ct AS (SELECT a, b, COUNT(*) AS n FROM lab GROUP BY 1, 2),
      |tot AS (SELECT COUNT(*) AS nn FROM lab),
      |ra AS (SELECT a, SUM(n) AS r FROM ct GROUP BY 1),
      |sb AS (SELECT b, SUM(n) AS s FROM ct GROUP BY 1),
      |pe AS (
      |  SELECT COALESCE(SUM(r * s), 0) AS rs
      |  FROM ra JOIN sb ON ra.a = sb.b),
      |dg AS (SELECT COALESCE(SUM(n), 0) AS dg FROM ct WHERE a = b),
      |su AS (
      |  SELECT nn AS n_total,
      |    CAST((1000000 * (nn * dg - rs)) // (nn * nn - rs) AS BIGINT)
      |      AS homophily_ppm
      |  FROM tot CROSS JOIN pe CROSS JOIN dg)
      |SELECT a AS cust_nation, b AS supp_nation, CAST(n AS BIGINT) AS n,
      |  n_total, homophily_ppm
      |FROM ct CROSS JOIN su ORDER BY cust_nation, supp_nation""".stripMargin

  // --------------------------------------------------------------------------
  // q338 — SPAN-CORRUPTION MASK PLAN (T5-style): deterministically plan
  // 3-token corruption spans per document — a position starts a span
  // when its md5 draw lands in 1/20 of the hash space (≈15% token mask
  // budget), overlapping spans merge via q313's gaps-and-islands — and
  // ship each doc's exact mask accounting (span count, masked tokens,
  // ratio_ppm). Every pipeline that pretrains with denoising objectives
  // plans masks ahead of packing; md5 arithmetic keeps the plan
  // engine-portable and shardable.
  //
  // Scale: one row-local position explode (≤ tokens rows), the island
  // merge windows are partitioned BY DOC, one aggregate back to docs.
  def spanCorruptionPlan(docs: DataFrame, spanLen: Int, modulus: Int): DataFrame = {
    val pos = docs
      .select(col("doc_id"), size(TextOps.toks).as("m"))
      .filter(col("m") >= 1)
      .select(col("doc_id"), col("m"), explode(expr("sequence(1, m)")).as("p"))
    val starts = pos.filter(
      expr("cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
        s"cast(p as string))), 1, 13), 16, 10) as bigint) % $modulus") === 0)
      .select(col("doc_id"), col("m"), col("p").as("s0"),
        least(col("p") + spanLen, col("m") + 1).as("e0"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s0"))
    val islands = starts
      .withColumn("prev_max_e",
        max(col("e0")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s0") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("m"), col("island"))
      .agg(min(col("s0")).as("is"), max(col("e0")).as("ie"))
    islands.groupBy(col("doc_id"), col("m"))
      .agg(count(lit(1)).as("n_spans"), sum(col("ie") - col("is")).as("masked"))
      .select(col("doc_id"), col("m").cast("long").as("n_tok"),
        col("n_spans"), col("masked"),
        expr("(1000000L * masked) div m").as("ratio_ppm"))
      .orderBy(col("doc_id"))
  }

  def q338SpanCorruption(spark: SparkSession, dir: String): DataFrame =
    spanCorruptionPlan(Tables.documents(spark, dir), spanLen = 3, modulus = 20)

  val q338Sql: String = {
    val toks = TextOps.toksSqlD
    s"""WITH d AS (
       |  SELECT doc_id, len($toks) AS m FROM documents),
       |pos AS (
       |  SELECT doc_id, m, UNNEST(generate_series(1, m)) AS p
       |  FROM d WHERE m >= 1),
       |st AS (
       |  SELECT doc_id, m, p AS s0, LEAST(p + 3, m + 1) AS e0
       |  FROM pos
       |  WHERE ('0x' || substr(md5(doc_id || ':' || p), 1, 13))::BIGINT % 20 = 0),
       |fl AS (
       |  SELECT doc_id, m, s0, e0,
       |    CASE WHEN MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR s0 > MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      THEN 1 ELSE 0 END AS new_island
       |  FROM st),
       |isl AS (
       |  SELECT doc_id, m, s0, e0,
       |    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s0
       |      ROWS UNBOUNDED PRECEDING) AS island
       |  FROM fl),
       |mg AS (
       |  SELECT doc_id, m, island, MIN(s0) AS i_s, MAX(e0) AS i_e
       |  FROM isl GROUP BY 1, 2, 3)
       |SELECT doc_id, CAST(m AS BIGINT) AS n_tok, COUNT(*) AS n_spans,
       |  CAST(SUM(i_e - i_s) AS BIGINT) AS masked,
       |  CAST((1000000 * SUM(i_e - i_s)) // m AS BIGINT) AS ratio_ppm
       |FROM mg GROUP BY doc_id, m ORDER BY doc_id""".stripMargin
  }

  private val catalogP: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q337_trade_homophily", q337TradeHomophily _, Some(q337Sql)),
    ("q338_span_corruption", q338SpanCorruption _, Some(q338Sql)))

  // ═════════════════ formerly Round8bOps (consolidated round 10) ═════════════════

  // --------------------------------------------------------------------------
  // q288 — ITEM-ITEM COLLABORATIVE FILTERING (co-occurrence cosine):
  // sim(i, j) = c_ij / √(c_i·c_j) over order baskets, top-3 neighbors
  // per part — the "customers also bought" serving artifact. q198 scores
  // PAIRS by lift; this materializes the per-item neighbor LIST a
  // recommender serves.
  //
  // Scale: pair generation is within-basket (≤ 4 items per order → ≤ 6
  // pairs, linear); the neighbor rank is a window PARTITIONED by item
  // over its bounded candidate set. At 100 TB the same plan holds as
  // long as basket size is bounded — the DIMSUM-style sampling twin is
  // only needed for mega-baskets.
  //
  // Determinism: ranking and output are on the ppm-floor integer
  // similarity (c_ij, c_i, c_j exact counts; one sqrt + divide + floor),
  // tie-broken by neighbor id.
  def q288ItemCf(spark: SparkSession, dir: String): DataFrame = {
    // within-basket pair generation is ROW-LOCAL (baskets are bounded by
    // the order contract, ≤ 7 lines), so the pairs come from a per-order
    // sorted item set + bounded nested transform — q442's cappedWedges
    // shape — instead of the basket self-join, which shuffled the basket
    // stream twice and re-planned the distinct per consumer (24 Exchange
    // mentions in the r14 plan dump). The explicit-width exchange on ok
    // spreads the single-split scan and is shared by the ci and pair
    // branches via ReuseExchange. collect_set per order ≡ the old
    // distinct(); sort_array makes the i < j orientation row-local.
    val width = spark.sparkContext.defaultParallelism
    val lists = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .repartition(width, col("ok"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("item"))).as("its"))
    val ci = lists.select(explode(col("its")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = lists.select(explode(expr(
      """flatten(transform(its, (x, k) ->
        |  transform(slice(its, k + 2, size(its)), y ->
        |    named_struct('i', x, 'j', y))))""".stripMargin)).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j")).agg(count(lit(1)).as("cij"))
    val sym = pairs.select(col("i").as("item"), col("j").as("nbr"), col("cij"))
      .unionByName(pairs.select(col("j").as("item"), col("i").as("nbr"), col("cij")))
    val scored = sym
      .join(ci.toDF("item", "c_item"), Seq("item"))
      .join(ci.toDF("nbr", "c_nbr"), Seq("nbr"))
      .withColumn("sim_ppm",
        floor(col("cij").cast("double") /
          sqrt((col("c_item") * col("c_nbr")).cast("double")) * 1e6 + 0.5))
    val w = Window.partitionBy(col("item")).orderBy(col("sim_ppm").desc, col("nbr"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("item"), col("rank"), col("nbr"), col("cij"), col("sim_ppm"))
      .orderBy(col("item"), col("rank"))
  }

  val q288Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      |ci AS (SELECT item, COUNT(*) AS c FROM b GROUP BY item),
      |p AS (
      |  SELECT a.item AS i, b2.item AS j, COUNT(*) AS cij
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.item < b2.item
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT i AS item, j AS nbr, cij FROM p
      |  UNION ALL SELECT j, i, cij FROM p),
      |sc AS (
      |  SELECT sym.item, nbr, cij,
      |    CAST(FLOOR(CAST(cij AS DOUBLE)
      |      / sqrt(CAST(ca.c * cb.c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS sim_ppm
      |  FROM sym JOIN ci ca ON ca.item = sym.item JOIN ci cb ON cb.item = nbr),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
      |    ORDER BY sim_ppm DESC, nbr) AS rank
      |  FROM sc)
      |SELECT item, CAST(rank AS INT) AS rank, nbr, cij, sim_ppm
      |FROM r WHERE rank <= 3 ORDER BY item, rank""".stripMargin


  private val catalogR8: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q288_item_cf", q288ItemCf _, Some(q288Sql)))

  // --------------------------------------------------------------------------
  // q442 — BIPARTITE BUTTERFLY CENSUS (round 12): butterflies (2×2
  // bicliques, the bipartite analogue of triangles) over the
  // customer–part purchase graph, the standard cohesion readout for
  // bipartite networks (Sanei-Mehri et al., "Butterfly Counting in
  // Bipartite Networks", KDD'18). Wedges (part pairs co-bought by one
  // customer) come from a ROW-LOCAL per-customer pair expansion under a
  // degree cap — the stop-shingle discipline (q31's cappedPairEvents)
  // applied to graphs: a customer with more than `cap` distinct parts is
  // dropped WHOLE (a row_number prefix bounds the collected list BEFORE
  // collect_list buffers it), so wedge mass is ≤ C(cap,2)·|customers| —
  // linear in the graph, never Σ deg² on a power-law hub. Butterflies
  // per co-bought part pair (m shared customers) = C(m,2); the census
  // row also reports the wedge count and the hub-drop tally so the cap's
  // bite is visible, not silent.
  //
  // Determinism: exact BIGINT counts end to end.
  /** (ck, pa, pb) degree-capped wedge stream + the 1-row hub-drop tally —
    * shared by the exact census (q442) and the sampling estimator (q445).
    */
  private[graft] def cappedWedges(edges: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    val e = edges.toDF("ck", "pk").distinct()
    val wCk = Window.partitionBy(col("ck")).orderBy(col("pk"))
    val lists = e
      .withColumn("rn", row_number().over(wCk))
      .filter(col("rn") <= cap + 1)
      .groupBy(col("ck"))
      .agg(collect_list(col("pk")).as("ps"))
    // hub customers (> cap distinct parts) drop whole — the cap+1
    // sentinel marks them without ever buffering the full hot list
    val kept = lists.filter(size(col("ps")) <= cap && size(col("ps")) >= 2)
    val dropped = lists.filter(size(col("ps")) > cap)
      .agg(count(lit(1)).as("n_hubs_dropped"))
    val wedges = kept.select(col("ck"), explode(expr(
      """flatten(transform(ps, (x, i) ->
        |  transform(slice(ps, i + 2, size(ps)), y ->
        |    named_struct('pa', least(x, y), 'pb', greatest(x, y)))))""".stripMargin)).as("w"))
      .select(col("ck"), col("w.pa").as("pa"), col("w.pb").as("pb"))
    (wedges, dropped)
  }

  private[graft] def butterflyCensus(edges: DataFrame, cap: Int): DataFrame = {
    val (wedges, dropped) = cappedWedges(edges, cap)
    val m = wedges.groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("m"))
    m.agg(
      count(lit(1)).as("part_pairs"),
      sum(col("m")).as("wedges"),
      sum(expr("m * (m - 1L) div 2")).as("butterflies"),
      max(col("m")).as("max_pair_support"))
      .crossJoin(broadcast(dropped))
      .select(
        coalesce(col("wedges"), lit(0L)).as("wedges"),
        coalesce(col("part_pairs"), lit(0L)).as("part_pairs"),
        coalesce(col("butterflies"), lit(0L)).as("butterflies"),
        coalesce(col("max_pair_support"), lit(0L)).as("max_pair_support"),
        col("n_hubs_dropped"))
  }

  val ButterflyCap = 40

  def q442ButterflyCensus(spark: SparkSession, dir: String): DataFrame =
    butterflyCensus(
      Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk")),
      cap = ButterflyCap)

  val q442Sql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |ranked AS (
       |  SELECT ck, pk, ROW_NUMBER() OVER (PARTITION BY ck ORDER BY pk) AS rn
       |  FROM e),
       |capped AS (SELECT ck, pk FROM ranked WHERE rn <= $ButterflyCap + 1),
       |degs AS (SELECT ck, COUNT(*) AS d FROM capped GROUP BY ck),
       |kept AS (
       |  SELECT c.ck, c.pk FROM capped c JOIN degs USING (ck)
       |  WHERE d <= $ButterflyCap AND d >= 2),
       |hubs AS (
       |  SELECT COUNT(*) AS n_hubs_dropped FROM degs WHERE d > $ButterflyCap),
       |m AS (
       |  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS m
       |  FROM kept a JOIN kept b ON a.ck = b.ck AND a.pk < b.pk
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT COUNT(*) AS part_pairs, SUM(m) AS wedges,
       |    SUM(m * (m - 1) // 2) AS butterflies, MAX(m) AS max_pair_support
       |  FROM m)
       |SELECT CAST(COALESCE(wedges, 0) AS BIGINT) AS wedges,
       |  CAST(COALESCE(part_pairs, 0) AS BIGINT) AS part_pairs,
       |  CAST(COALESCE(butterflies, 0) AS BIGINT) AS butterflies,
       |  CAST(COALESCE(max_pair_support, 0) AS BIGINT) AS max_pair_support,
       |  CAST(n_hubs_dropped AS BIGINT) AS n_hubs_dropped
       |FROM agg CROSS JOIN hubs""".stripMargin

  // --------------------------------------------------------------------------
  // q445 — WEDGE-SAMPLING BUTTERFLY ESTIMATOR (round 12): the
  // extreme-scale companion to q442's exact census. Sample the wedge
  // stream at p = 1/4 with a PORTABLE deterministic coin
  // (md5(ck:pa:pb) mod 4), count sampled wedges k per part pair, and
  // estimate butterflies by the unbiased identity
  // E[C(k,2)]/p² = C(m,2) — so est = 16·Σ C(k,2) and wedges_est = 4·Σk,
  // integers end to end. At 100 TB the sample cuts the (pa,pb) shuffle
  // mass 4× (and p drops further as the corpus grows); the catalog entry
  // reports exact AND estimate side by side with the error in ppm, so
  // the estimator's bite is measured, not assumed.
  //
  // Scale shape: ONE shared wedge expansion (lazy checkpoint) feeds both
  // aggregates; everything else is 1-row arithmetic. Error bound rides
  // the q434 DECIMAL(38,0) product discipline.
  def q445ButterflySample(spark: SparkSession, dir: String): DataFrame = {
    val (wedges, _) = cappedWedges(
      Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk")),
      cap = ButterflyCap)
    // the sampling coin is a ROW-LOCAL function of the wedge key, so the
    // exact and sampled censuses fold into ONE (pa, pb) aggregate
    // (m = all wedges, k = sampled wedges; a pair with k = 0 contributes
    // 0 to both estimator sums, exactly as its absence did from the old
    // filtered aggregate). One pass over the wedge stream and one
    // shuffle, where the previous form materialized the full expansion
    // into a lazy checkpoint to feed two separate aggregates plus a
    // crossJoin — the r14 q326 lesson: materializing a data-sized frame
    // to save a recompute costs more than the recompute, and here even
    // the recompute is gone.
    wedges
      .withColumn("in_sample", expr(
        """cast(conv(substring(md5(concat_ws(':', ck, pa, pb)), 1, 8), 16, 10)
          | as bigint) % 4 = 0""".stripMargin))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("m"), count_if(col("in_sample")).as("k"))
      .agg(coalesce(sum(col("m")), lit(0L)).as("wedges"),
        coalesce(sum(expr("m * (m - 1L) div 2")), lit(0L)).as("butterflies"),
        (coalesce(sum(col("k")), lit(0L)) * 4).as("wedges_est"),
        (coalesce(sum(expr("k * (k - 1L) div 2")), lit(0L)) * 16).as("butterflies_est"))
      .select(col("wedges"), col("butterflies"),
        col("wedges_est"), col("butterflies_est"),
        when(col("butterflies") === 0, lit(0L))
          .otherwise(expr(
            """cast((cast(abs(butterflies_est - butterflies) as decimal(38,0))
              | * 1000000L) div butterflies as bigint)""".stripMargin))
          .as("err_ppm"))
  }

  val q445Sql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |ranked AS (
       |  SELECT ck, pk, ROW_NUMBER() OVER (PARTITION BY ck ORDER BY pk) AS rn
       |  FROM e),
       |capped AS (SELECT ck, pk FROM ranked WHERE rn <= $ButterflyCap + 1),
       |degs AS (SELECT ck, COUNT(*) AS d FROM capped GROUP BY ck),
       |kept AS (
       |  SELECT c.ck, c.pk FROM capped c JOIN degs USING (ck)
       |  WHERE d <= $ButterflyCap AND d >= 2),
       |w AS (
       |  SELECT a.ck, a.pk AS pa, b.pk AS pb
       |  FROM kept a JOIN kept b ON a.ck = b.ck AND a.pk < b.pk),
       |m AS (SELECT pa, pb, COUNT(*) AS m FROM w GROUP BY 1, 2),
       |ex AS (
       |  SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS wedges,
       |    CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT) AS butterflies
       |  FROM m),
       |sw AS (
       |  SELECT pa, pb, COUNT(*) AS k FROM w
       |  WHERE ('0x' || substring(md5(ck::VARCHAR || ':' || pa::VARCHAR
       |      || ':' || pb::VARCHAR), 1, 8))::BIGINT % 4 = 0
       |  GROUP BY 1, 2),
       |se AS (
       |  SELECT CAST(COALESCE(SUM(k), 0) * 4 AS BIGINT) AS wedges_est,
       |    CAST(COALESCE(SUM(k * (k - 1) // 2), 0) * 16 AS BIGINT)
       |      AS butterflies_est
       |  FROM sw)
       |SELECT wedges, butterflies, wedges_est, butterflies_est,
       |  CAST(CASE WHEN butterflies = 0 THEN 0
       |    ELSE (ABS(butterflies_est::HUGEINT - butterflies) * 1000000)
       |      // butterflies END AS BIGINT) AS err_ppm
       |FROM ex CROSS JOIN se""".stripMargin

  private val catalogR12: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q442_butterfly_census", q442ButterflyCensus _, Some(q442Sql)),
    ("q445_butterfly_sample", q445ButterflySample _, Some(q445Sql)))

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    catalogD ++ catalogG ++ catalogS ++ catalogV ++ catalogP ++ catalogR8 ++ catalogR12
}
