package graft.ops

import graft.functions.GraftFunctions.geohashQ
import graft.{GraftSession, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial operators — [EXT] north-star surface absent from the reference
  * (reference `Proof.scala` has no geometry of any kind): a grid-bucketed
  * ε-neighborhood join, the canonical scale-safe shape for "find all
  * points near each station" on coordinates.
  *
  * The test tables carry no coordinates, so both engines derive identical
  * synthetic positions from the q115/q216 portable md5 uniform: a dyadic
  * rational (v + 0.5) / 2^52 from the first 13 hex digits of
  * md5(tag || key) — bit-identical in Spark and DuckDB, so every
  * downstream IEEE product/compare agrees across engines.
  */
object SpatialOps {

  /** Portable md5 uniform in (0,1): dyadic, exact in double. */
  private[ops] def mdUniform(tag: String, key: Column): Column = {
    val v = conv(substring(md5(concat(lit(tag + ":"), key.cast("string"))), 1, 13), 16, 10)
      .cast("long")
    (v.cast("double") + 0.5) / lit(4503599627370496.0)
  }

  private def mdUniformSql(tag: String, key: String): String =
    s"(('0x' || substr(md5('$tag:' || $key::VARCHAR), 1, 13))::BIGINT + 0.5) / 4503599627370496.0"

  // --------------------------------------------------------------------------
  // q225 — GRID-BUCKETED ε-NEIGHBORHOOD JOIN: customers are points in the
  // unit square, suppliers are stations; for each station report how many
  // customers lie within ε (L2) and the distance to the nearest one.
  //
  // Scale shape: NEVER all-pairs. Cell size = ε, so a point can only match
  // a station in its own or one of the 8 adjacent cells. The station side
  // is exploded ×9 onto its neighborhood cells and the match is a pure
  // equi-join on (cx, cy) — both sides shuffle on the cell key, candidate
  // count is bounded by local density, and the plan survives both sides
  // being 100 TB (no broadcast required; AQE may still choose one). The
  // exact ε test runs inside the join on the ×9-pruned candidates only.
  //
  // Determinism: coordinates are dyadic rationals (exact doubles);
  // dx·dx + dy·dy is two IEEE products and one sum in fixed order; the
  // ε² compare and min-distance argmin are exact; sqrt is correctly
  // rounded; the output distance is rounded to 6 dp.
  def q225GridEpsJoin(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.08
    val inv = 1.0 / eps
    val pts = Tables.customer(spark, dir).select(
      col("c_custkey").as("pk"),
      mdUniform("px", col("c_custkey")).as("x"),
      mdUniform("py", col("c_custkey")).as("y"))
      .withColumn("cx", floor(col("x") * inv).cast("long"))
      .withColumn("cy", floor(col("y") * inv).cast("long"))
    val stations = Tables.supplier(spark, dir).select(
      col("s_suppkey").as("sk"),
      mdUniform("sx", col("s_suppkey")).as("sx"),
      mdUniform("sy", col("s_suppkey")).as("sy"))
    val exploded = stations
      .withColumn("dcx", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("dcy", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("cx", floor(col("sx") * inv).cast("long") + col("dcx"))
      .withColumn("cy", floor(col("sy") * inv).cast("long") + col("dcy"))
      .select(col("sk"), col("sx"), col("sy"), col("cx"), col("cy"))
    val d2 = (col("x") - col("sx")) * (col("x") - col("sx")) +
      (col("y") - col("sy")) * (col("y") - col("sy"))
    val near = exploded.join(pts, Seq("cx", "cy"))
      .withColumn("d2", d2)
      .filter(col("d2") <= lit(eps * eps))
      .groupBy(col("sk"))
      .agg(count(lit(1)).as("n_within"),
        Num.pround(sqrt(min(col("d2"))), 6).as("min_dist"))
    Tables.supplier(spark, dir).select(col("s_suppkey").as("sk"))
      .join(near, Seq("sk"), "left")
      .select(col("sk").as("s_suppkey"),
        coalesce(col("n_within"), lit(0L)).as("n_within"), col("min_dist"))
      .orderBy(col("s_suppkey"))
  }

  /** Oracle: literal all-pairs filter (feasible at oracle scale only). */
  val q225Sql: String = {
    val eps = "0.08"
    s"""WITH pts AS (
       |  SELECT c_custkey AS pk,
       |    ${mdUniformSql("px", "c_custkey")} AS x,
       |    ${mdUniformSql("py", "c_custkey")} AS y
       |  FROM customer),
       |st AS (
       |  SELECT s_suppkey AS sk,
       |    ${mdUniformSql("sx", "s_suppkey")} AS sx,
       |    ${mdUniformSql("sy", "s_suppkey")} AS sy
       |  FROM supplier),
       |near AS (
       |  SELECT sk, COUNT(*) AS n_within,
       |    FLOOR((sqrt(MIN((x - sx) * (x - sx) + (y - sy) * (y - sy)))) * 1e6 + 0.5) / 1e6 AS min_dist
       |  FROM st CROSS JOIN pts
       |  WHERE (x - sx) * (x - sx) + (y - sy) * (y - sy) <= $eps * $eps
       |  GROUP BY sk)
       |SELECT s.s_suppkey, COALESCE(n.n_within, 0) AS n_within, n.min_dist
       |FROM supplier s LEFT JOIN near n ON s.s_suppkey = n.sk
       |ORDER BY s.s_suppkey""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q247 — GEOHASH ENCODING with the native codegen'd `geohash_q`
  // expression: customers get deterministic coordinates (portable md5 →
  // 20-bit quantized lat/lon integers — integer-exact end to end, no
  // float quantization boundary), and the expression interleaves the
  // bits into the standard geohash-8 cell string. Geohash prefixes ARE
  // the hierarchical spatial index: a prefix-k equality is a grid-cell
  // join (q225's dyadic cells, but as the industry-standard encoding a
  // user can hand to any geo system). The oracle rebuilds the interleave
  // independently in SQL from shifts/masks and base32 table lookups, so
  // the hash compare pins every bit of the expression.
  //
  // Scale: row-local, one static call per row inside whole-stage codegen.
  def q247Geohash(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        expr("cast(conv(substring(md5(concat('glat:', c_custkey)), 1, 8), 16, 10) as bigint) % 1048576")
          .as("latq"),
        expr("cast(conv(substring(md5(concat('glon:', c_custkey)), 1, 8), 16, 10) as bigint) % 1048576")
          .as("lonq"))
      .select(col("c_custkey"),
        geohashQ(col("latq"), col("lonq")).as("geohash"),
        Num.pround((col("latq") * 180).cast("double") / 1048576 - 90, 6).as("lat"),
        Num.pround((col("lonq") * 360).cast("double") / 1048576 - 180, 6).as("lon"))
      .orderBy(col("c_custkey"))
  }

  val q247Sql: String =
    """WITH c AS (
      |  SELECT c_custkey,
      |    ('0x' || substr(md5('glat:' || c_custkey::VARCHAR), 1, 8))::BIGINT % 1048576 AS latq,
      |    ('0x' || substr(md5('glon:' || c_custkey::VARCHAR), 1, 8))::BIGINT % 1048576 AS lonq
      |  FROM customer),
      |g AS (
      |  SELECT c_custkey, latq, lonq,
      |    CAST(SUM((((lonq >> j) & 1) << (2 * j + 1)) + (((latq >> j) & 1) << (2 * j))) AS BIGINT) AS gi
      |  FROM c, LATERAL (SELECT unnest(range(20)) AS j) r
      |  GROUP BY 1, 2, 3),
      |ch AS (
      |  SELECT c_custkey, latq, lonq,
      |    string_agg(substr('0123456789bcdefghjkmnpqrstuvwxyz',
      |      CAST((gi >> (35 - 5 * k)) & 31 AS INT) + 1, 1), '' ORDER BY k) AS gh
      |  FROM g, LATERAL (SELECT unnest(range(8)) AS k) s
      |  GROUP BY 1, 2, 3)
      |SELECT c_custkey, gh AS geohash,
      |  FLOOR((CAST(latq * 180 AS DOUBLE) / 1048576 - 90) * 1e6 + 0.5) / 1e6 AS lat,
      |  FLOOR((CAST(lonq * 360 AS DOUBLE) / 1048576 - 180) * 1e6 + 0.5) / 1e6 AS lon
      |FROM ch ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------------
  // q255 — GRID-ACCELERATED DBSCAN: density clustering composed from two
  // verified pieces — q225's 3×3-cell ε-neighbor equi-join (never
  // all-pairs) and q82's min-label connected components. Core points
  // (≥ minPts neighbors within ε, self included) cluster via CC over
  // core-core edges; border points take the SMALLEST cluster label among
  // their core neighbors (the deterministic tie rule — textbook DBSCAN
  // is scan-order-dependent there); the rest is noise. Labels are min
  // member ids, so the whole result is integer-deterministic.
  //
  // Scale: neighbor discovery is the grid equi-join (local density ×
  // points, not points²); CC is the pointer-doubling/propagation loop
  // with its bounded-round escape; everything else is equi-joins.
  // Oracle: all-pairs neighbors + recursive-CTE reachability (oracle
  // scale only), independent of both the grid and the CC loop.
  def q255Dbscan(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.08
    val minPts = 4
    val inv = 1.0 / eps
    val pts = Tables.supplier(spark, dir).select(
      col("s_suppkey").as("pk"),
      mdUniform("sx", col("s_suppkey")).as("x"),
      mdUniform("sy", col("s_suppkey")).as("y"))
    // lazy checkpoints (§8.22): cells feeds the 9-cell explode AND the
    // probe join; nbr feeds degree + core-edge + border passes; core and
    // coreLabels each feed multiple semi/anti joins — flat LogicalRDD
    // plans compute each ONCE via RDD-level stage reuse instead of
    // re-running the grid join per consumer
    val cells = pts
      .withColumn("cx", floor(col("x") * inv).cast("long"))
      .withColumn("cy", floor(col("y") * inv).cast("long"))
      .localCheckpoint(false)
    // canonical HALF-neighborhood probe: the full 9-offset explode found
    // every symmetric cell pair twice (A probing B's cell and B probing
    // A's). Probing only the self cell + 4 forward offsets finds each
    // unordered pair exactly once — same-cell pairs deduped by qk < pk,
    // cross-cell pairs because the reverse offset is never probed — and
    // the ε-surviving pairs are mirrored afterwards, so `nbr` is
    // set-identical to the 9-offset form at 5/9 the probe stream and
    // half the join output.
    val exploded = cells
      .withColumn("off", explode(array(
        Seq((0, 0), (1, 0), (0, 1), (1, 1), (1, -1)).map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select(col("pk").as("qk"), col("x").as("qx"), col("y").as("qy"),
        (col("cx") + col("off.dx")).as("cx"), (col("cy") + col("off.dy")).as("cy"),
        (col("off.dx") === 0 && col("off.dy") === 0).as("same_cell"))
    val d2 = (col("qx") - col("x")) * (col("qx") - col("x")) +
      (col("qy") - col("y")) * (col("qy") - col("y"))
    val half = exploded.join(cells, Seq("cx", "cy"))
      .filter(when(col("same_cell"), col("qk") < col("pk")).otherwise(lit(true)))
      .withColumn("d2", d2)
      .filter(col("d2") <= lit(eps * eps))
      .select(col("qk"), col("pk").as("nk"))
      // checkpointed BEFORE the symmetrizing union: both union branches
      // read this frame, and without the flatten each would re-run the
      // grid join — paying 10/9 of the 9-offset work instead of 5/9
      .localCheckpoint(false)
    val nbr = half
      .union(half.select(col("nk").as("qk"), col("qk").as("nk")))
      .localCheckpoint(false)
    val degree = nbr.groupBy(col("qk")).agg((count(lit(1)) + 1).as("deg"))
    val core = degree.filter(col("deg") >= minPts).select(col("qk").as("ck"))
      .localCheckpoint(false)
    val coreEdges = nbr
      .join(core, nbr("qk") === core("ck"), "left_semi")
      .join(core, nbr("nk") === core("ck"), "left_semi")
      .filter(col("qk") < col("nk"))
      .select(col("qk").as("id_a"), col("nk").as("id_b"))
    // Everything from here down is |suppliers|-bounded — a dimension, not
    // the data — so the WHOLE tail (CC + border pass + final assembly)
    // runs under one narrow-shuffle scope (4 partitions, AQE off, on a
    // child session) and is materialized INSIDE it: executed at the
    // caller's action instead, the session's AQE would schedule every
    // exchange of this ~15-stage assembly as its own stage-job — measured
    // as ~21 sequential 20-150ms jobs, the q255 scheduler floor. The grid
    // join above is the data-sized step and was planned at session width
    // with AQE on.
    //
    // Spatial ε-neighbor graphs are long chains (diameter ≫ 5 —
    // measured: every sf0.1 run blew through the 5-round propagation
    // budget and THEN ran star contraction), so CC goes straight to the
    // star path — and since the vertex set here is dimension-bounded
    // (|suppliers|) and the scope has AQE off, it uses the RDD inner
    // loop, which skips the ~0.3-0.4 s/check Catalyst compilation the
    // DataFrame loop pays (round-13 verdict item 2; A/B in SURVEY
    // §8.28). Vertices with no core neighbor aren't labeled by the star
    // (no edge) — the coalesce(cluster, ck) below restores them, which
    // is why the starEscape singleton re-attach isn't needed here.
    val width = 4
    val assembled = GraftSession.withConf(spark,
        "spark.sql.shuffle.partitions" -> width.toString,
        "spark.sql.adaptive.enabled" -> "false") { child =>
      val Seq(cPts, cNbr, cCore, cEdges) =
        Seq(pts, nbr, core, coreEdges).map(GraftSession.bind(child, _))
      val ccLabels = TextOps.connectedComponentsStarRdd(cEdges, parts = width)
        .select(col("id").as("ck"), col("label").as("cluster"))
      val coreLabels = cCore
        .join(ccLabels, Seq("ck"), "left")
        .select(col("ck"), coalesce(col("cluster"), col("ck")).as("cluster"))
        .localCheckpoint(false)
      val borderLabels = cNbr
        .join(cCore.select(col("ck")), cNbr("nk") === col("ck"), "left_semi")
        .join(cCore.select(col("ck").as("qck")), cNbr("qk") === col("qck"), "left_anti")
        .join(coreLabels.select(col("ck").as("nk"), col("cluster")), Seq("nk"))
        .groupBy(col("qk")).agg(min(col("cluster")).as("cluster"))
        .select(col("qk").as("pk2"), col("cluster"))
      cPts.select(col("pk"))
        .join(coreLabels.select(col("ck").as("pk"), col("cluster").as("core_cluster")),
          Seq("pk"), "left")
        .join(borderLabels.withColumnRenamed("pk2", "pk"), Seq("pk"), "left")
        .select(col("pk").as("s_suppkey"),
          when(col("core_cluster").isNotNull, "core")
            .when(col("cluster").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("core_cluster"), col("cluster")).as("cluster"))
        .localCheckpoint(true) // materialize while the narrow scope holds
    }
    assembled.orderBy(col("s_suppkey"))
  }

  val q255Sql: String = {
    val ux = mdUniformSql("sx", "s_suppkey")
    val uy = mdUniformSql("sy", "s_suppkey")
    s"""WITH RECURSIVE pts AS (
       |  SELECT s_suppkey AS pk, $ux AS x, $uy AS y FROM supplier),
       |nbr AS (
       |  SELECT a.pk AS qk, b.pk AS nk
       |  FROM pts a JOIN pts b ON a.pk <> b.pk
       |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0064),
       |core AS (
       |  SELECT qk AS ck FROM nbr GROUP BY qk HAVING COUNT(*) + 1 >= 4),
       |ce AS (
       |  SELECT qk AS a, nk AS b FROM nbr
       |  WHERE qk IN (SELECT ck FROM core) AND nk IN (SELECT ck FROM core)),
       |reach(a, b) AS (
       |  SELECT a, b FROM ce
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a),
       |cl AS (
       |  SELECT ck, COALESCE(lbl.cluster, ck) AS cluster
       |  FROM core LEFT JOIN (
       |    SELECT a AS ck2, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a) lbl
       |    ON core.ck = lbl.ck2),
       |border AS (
       |  SELECT n.qk, MIN(cl.cluster) AS cluster
       |  FROM nbr n JOIN cl ON n.nk = cl.ck
       |  WHERE n.qk NOT IN (SELECT ck FROM core)
       |  GROUP BY n.qk)
       |SELECT p.pk AS s_suppkey,
       |  CASE WHEN cl.cluster IS NOT NULL THEN 'core'
       |       WHEN border.cluster IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(cl.cluster, border.cluster) AS cluster
       |FROM pts p
       |LEFT JOIN cl ON p.pk = cl.ck
       |LEFT JOIN border ON p.pk = border.qk
       |ORDER BY p.pk""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q448 — EMBEDDING ε-SELF-JOIN via the 2D-projection grid (round-13
  // spatial-family depth): project each 64-dim embedding onto two fixed
  // md5-derived hyperplanes (portable weights — both engines rebuild the
  // identical doubles), then find all pairs within ε in the projected
  // plane with q255's grid pattern — ε-sized cells, HALF-neighborhood
  // probe (self cell with qk < pk + 4 forward offsets → each unordered
  // pair found exactly once), never all-pairs — and verify the survivors
  // with the exact full-vector cosine, fetched for CANDIDATE ids only
  // (q32's slim-broadcast discipline: pair keys broadcast, vectors never
  // broadcast and never shuffled).
  //
  // This is the density-join complement to the ANN family: q42/q45
  // answer "top-k for a query set"; this answers "ALL close pairs" — the
  // shape embedding-dedup sweeps and collision audits need. Scale: the
  // grid join is local-density × points; the cosine verify is
  // O(surviving pairs); projections are one row-local pass.
  // Oracle: all-pairs d2 + cosine replay (oracle scale only), fold order
  // matching q40's list_reduce parity.
  /** Shared core of q448/q451: all embedding pairs within `eps` in the
    * 2D projection, with the exact full-vector cosine — (id_a, id_b, d2,
    * cos), cosine RAW (unrounded: q451 thresholds on it, and the fold
    * order matches DuckDB bit-for-bit so the comparison is portable). */
  private def epsCosPairs(spark: SparkSession, dir: String, eps: Double): DataFrame = {
    val inv = 1.0 / eps
    def wArr(tag: String): String =
      s"transform(sequence(0, 63), i -> cast(conv(substring(md5(concat('$tag:', cast(i as string))), 1, 8), 16, 10) as double) / 2147483648.0d - 1.0d)"
    // x/y fold in ascending index order from 0.0 — the same summation
    // order DuckDB's list_reduce uses, so the doubles agree bit-for-bit
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, t -> cast(t as double))").as("v"))
      .withColumn("x", expr(
        s"aggregate(zip_with(v, ${wArr("wx")}, (a, b) -> a * b), 0.0d, (acc, t) -> acc + t)"))
      .withColumn("y", expr(
        s"aggregate(zip_with(v, ${wArr("wy")}, (a, b) -> a * b), 0.0d, (acc, t) -> acc + t)"))
      .withColumn("n2", expr("aggregate(v, 0.0d, (acc, t) -> acc + t * t)"))
      .localCheckpoint(false) // feeds the slim grid AND the cosine verify
    // the grid joins SLIM rows only — vectors stay out of the shuffle
    val cells = base.select(col("vec_id"), col("x"), col("y"))
      .withColumn("cx", floor(col("x") * inv).cast("long"))
      .withColumn("cy", floor(col("y") * inv).cast("long"))
      .localCheckpoint(false) // feeds the probe explode AND the build side
    val exploded = cells
      .withColumn("off", explode(array(
        Seq((0, 0), (1, 0), (0, 1), (1, 1), (1, -1)).map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select(col("vec_id").as("qk"), col("x").as("qx"), col("y").as("qy"),
        (col("cx") + col("off.dx")).as("cx"), (col("cy") + col("off.dy")).as("cy"),
        (col("off.dx") === 0 && col("off.dy") === 0).as("same_cell"))
    val d2 = (col("qx") - col("x")) * (col("qx") - col("x")) +
      (col("qy") - col("y")) * (col("qy") - col("y"))
    val cand = exploded.join(cells, Seq("cx", "cy"))
      .filter(when(col("same_cell"), col("qk") < col("vec_id")).otherwise(lit(true)))
      .withColumn("d2", d2)
      .filter(col("d2") <= lit(eps * eps))
      .select(least(col("qk"), col("vec_id")).as("id_a"),
        greatest(col("qk"), col("vec_id")).as("id_b"), col("d2"))
      .localCheckpoint(false) // feeds both sides of the vector fetch
    // cosine verify for candidates only — q32's rule: broadcast the slim
    // pair keys, never an array-carrying frame
    val withA = broadcast(cand)
      .join(base.select(col("vec_id").as("id_a"), col("v").as("va"), col("n2").as("na")), "id_a")
    val pairs = withA.hint("shuffle_hash")
      .join(base.select(col("vec_id").as("id_b"), col("v").as("vb"), col("n2").as("nb")), "id_b")
    pairs
      .withColumn("dot", expr(
        "aggregate(zip_with(va, vb, (a, b) -> a * b), 0.0d, (acc, t) -> acc + t)"))
      .select(col("id_a"), col("id_b"), col("d2"),
        (col("dot") / sqrt(col("na") * col("nb"))).as("cos"))
  }

  def q448EmbeddingEpsJoin(spark: SparkSession, dir: String): DataFrame =
    epsCosPairs(spark, dir, eps = 0.05)
      .select(col("id_a"), col("id_b"),
        Num.pround(col("d2"), 8).as("d2_proj"),
        Num.pround(col("cos"), 4).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))

  val q448Sql: String = {
    def w(tag: String) =
      s"((('0x' || substr(md5('$tag:' || (i-1)::VARCHAR), 1, 8))::BIGINT / 2147483648.0) - 1.0)"
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_reduce(list_transform(embedding::DOUBLE[], t -> t * t), (a, b) -> a + b) AS n2
       |  FROM embeddings),
       |proj AS (
       |  SELECT vec_id, v, n2,
       |    list_reduce(list_transform(range(1, 65), i -> v[i] * ${w("wx")}),
       |      (a, b) -> a + b) AS x,
       |    list_reduce(list_transform(range(1, 65), i -> v[i] * ${w("wy")}),
       |      (a, b) -> a + b) AS y
       |  FROM base)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  FLOOR(((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) * 1e8 + 0.5)
       |    / 1e8 AS d2_proj,
       |  FLOOR((list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
       |      (x, y) -> x + y) / sqrt(a.n2 * b.n2)) * 1e4 + 0.5) / 1e4 AS cos_sim
       |FROM proj a JOIN proj b ON a.vec_id < b.vec_id
       |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0025
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q449 — TRAJECTORY SESSIONIZATION (trip segmentation): events become a
  // per-user spatial RANDOM WALK (integer steps derived from portable
  // md5 — each event moves ±100 grid units per axis, with a rare ×120
  // "jump" that models a teleport/geo-discontinuity), and each user's
  // event stream is cut into TRIPS wherever the time gap exceeds 30 min
  // OR the spatial step exceeds the jump threshold — the standard
  // trajectory-segmentation pass mobility pipelines run before
  // map-matching or stay-point detection. Readout per (user, trip):
  // event count, duration, and the integer path length (Σ⌊√step_d2⌋ over
  // WITHIN-trip steps — per-step floor keeps every term a BIGINT, so the
  // sum is exact and order-independent in both engines).
  //
  // Scale: two windows and one aggregate, all partitioned by user_id —
  // ONE shuffle, never a global sort. Null user_id forms its own window
  // partition in BOTH engines (the null-key contract: window semantics,
  // not a drop). Integer-exact end to end.
  def q449TrajectorySessions(spark: SparkSession, dir: String): DataFrame = {
    def mdInt(tag: String, mod: Int): Column =
      expr(s"cast(conv(substring(md5(concat('$tag:', cast(event_id as string))), 1, 8), 16, 10) as bigint) % $mod")
    val gapUs = 1800L * 1000000L
    val jumpD2 = 5000L * 5000L
    // ordering pinned NULLS LAST on BOTH engines: Spark's ASC default is
    // NULLS FIRST, DuckDB's is NULLS LAST — left unpinned, a null ts
    // would silently diverge the trip segmentation (ADVICE r13)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc_nulls_last, col("event_id").asc_nulls_last)
    val stepped = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("jump", (mdInt("jmp", 13) === 0).cast("long"))
      .withColumn("dx", (mdInt("dx", 201) - 100) * (lit(1L) + col("jump") * 119L))
      .withColumn("dy", (mdInt("dy", 201) - 100) * (lit(1L) + col("jump") * 119L))
      .withColumn("d2", col("dx") * col("dx") + col("dy") * col("dy"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_trip",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs ||
          col("d2") > jumpD2).cast("long"))
    stepped
      .withColumn("trip_id", sum(col("new_trip")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("trip_id"))
      .agg(count(lit(1)).as("n_events"),
        ((max(col("us")) - min(col("us"))) / lit(1000000L)).cast("long").as("duration_s"),
        // within-trip steps only: the trip-opening step crosses the cut
        sum(when(col("new_trip") === 0, floor(sqrt(col("d2").cast("double"))).cast("long"))
          .otherwise(0L)).as("path_len"))
      .orderBy(col("user_id"), col("trip_id"))
  }

  val q449Sql: String = {
    def mdInt(tag: String, mod: Int): String =
      s"(('0x' || substr(md5('$tag:' || event_id::VARCHAR), 1, 8))::BIGINT % $mod)"
    s"""WITH st AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    (${mdInt("dx", 201)} - 100)
       |      * (1 + (CASE WHEN ${mdInt("jmp", 13)} = 0 THEN 1 ELSE 0 END) * 119) AS dx,
       |    (${mdInt("dy", 201)} - 100)
       |      * (1 + (CASE WHEN ${mdInt("jmp", 13)} = 0 THEN 1 ELSE 0 END) * 119) AS dy
       |  FROM events),
       |g AS (
       |  SELECT user_id, event_id, us, dx * dx + dy * dy AS d2,
       |    LAG(us) OVER w AS prev_us
       |  FROM st WINDOW w AS (PARTITION BY user_id
       |    ORDER BY us NULLS LAST, event_id NULLS LAST)),
       |f AS (
       |  SELECT user_id, event_id, us, d2,
       |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
       |      OR d2 > 25000000 THEN 1 ELSE 0 END AS new_trip
       |  FROM g),
       |t AS (
       |  SELECT user_id, us, d2, new_trip,
       |    SUM(new_trip) OVER (PARTITION BY user_id
       |      ORDER BY us NULLS LAST, event_id NULLS LAST
       |      ROWS UNBOUNDED PRECEDING) AS trip_id
       |  FROM f)
       |SELECT user_id, CAST(trip_id AS BIGINT) AS trip_id,
       |  COUNT(*) AS n_events,
       |  CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s,
       |  CAST(SUM(CASE WHEN new_trip = 0
       |    THEN CAST(FLOOR(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT)
       |    ELSE 0 END) AS BIGINT) AS path_len
       |FROM t GROUP BY 1, 2 ORDER BY user_id, trip_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q451 — END-TO-END SEMANTIC DEDUP (the SemDeDup-shaped sweep): ONE
  // catalog entry composing the four pieces teams otherwise chain by
  // hand — q448's grid ε-self-join over the embedding space (cos ≥ τ on
  // the exact full-vector cosine = "semantic duplicate" edge), q82's
  // connected-components clustering of those edges, q431's
  // keep-stable-hash survivor rule (min md5(vec_id) per cluster —
  // order-independent, so re-runs and re-shards pick the same
  // representative), and q426's per-group retention readout (per label:
  // vectors before/after, kept ppm).
  //
  // Scale: pair generation is the grid join (local-density × points,
  // never all-pairs — PlanLint's cross-join rule covers it via q448's
  // shared core), clustering goes STRAIGHT to star contraction
  // (O(log² n) rounds — ε-neighbor graphs are chains of transitive
  // near-neighbors, i.e. exactly the high-diameter shape that makes
  // min-label propagation burn its round budget and escape anyway),
  // and the survivor/retention tail is two hash aggregates and
  // a broadcast-sized rep join over only the CLUSTERED vectors (a small
  // subset). The cosine threshold compares the RAW double — both
  // engines fold the dot product in the same order, so τ cuts
  // identically bit-for-bit.
  def q451SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val tau = 0.15
    val edges = epsCosPairs(spark, dir, eps = 0.05)
      .filter(col("cos") >= tau).select(col("id_a"), col("id_b"))
    val labeled = TextOps.connectedComponentsStar(edges)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
    val reps = labeled.groupBy(col("cluster"))
      .agg(min_by(col("doc_id"), md5(col("doc_id").cast("string"))).as("rep"))
    val dropped = labeled.join(broadcast(reps), "cluster")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("vec_id"), lit(1).as("is_dropped"))
    Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("vecs_before"),
        count_if(col("is_dropped").isNull).as("vecs_after"))
      .withColumn("kept_ppm", expr("(1000000L * vecs_after) div vecs_before"))
      .orderBy(col("label"))
  }

  val q451Sql: String = {
    def w(tag: String) =
      s"((('0x' || substr(md5('$tag:' || (i-1)::VARCHAR), 1, 8))::BIGINT / 2147483648.0) - 1.0)"
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_reduce(list_transform(embedding::DOUBLE[], t -> t * t), (a, b) -> a + b) AS n2
       |  FROM embeddings),
       |proj AS (
       |  SELECT vec_id, v, n2,
       |    list_reduce(list_transform(range(1, 65), i -> v[i] * ${w("wx")}),
       |      (a, b) -> a + b) AS x,
       |    list_reduce(list_transform(range(1, 65), i -> v[i] * ${w("wy")}),
       |      (a, b) -> a + b) AS y
       |  FROM base),
       |prs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM proj a JOIN proj b ON a.vec_id < b.vec_id
       |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0025
       |  WHERE list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
       |      (x, y) -> x + y) / sqrt(a.n2 * b.n2) >= 0.15),
       |edges AS (SELECT id_a AS a, id_b AS b FROM prs
       |          UNION SELECT id_b, id_a FROM prs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       |  SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
       |reps AS (
       |  SELECT cluster, ARG_MIN(vec_id, md5(vec_id::VARCHAR)) AS rep
       |  FROM labels GROUP BY cluster),
       |dropped AS (
       |  SELECT l.vec_id FROM labels l JOIN reps r USING (cluster)
       |  WHERE l.vec_id <> r.rep)
       |SELECT e.label, COUNT(*) AS vecs_before,
       |  CAST(COUNT(*) FILTER (d.vec_id IS NULL) AS BIGINT) AS vecs_after,
       |  CAST((1000000 * COUNT(*) FILTER (d.vec_id IS NULL)) // COUNT(*)
       |    AS BIGINT) AS kept_ppm
       |FROM embeddings e LEFT JOIN dropped d ON d.vec_id = e.vec_id
       |GROUP BY e.label ORDER BY e.label""".stripMargin
  }

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q247_geohash", q247Geohash _, Some(q247Sql)),
    ("q255_dbscan", q255Dbscan _, Some(q255Sql)),
    ("q225_grid_eps_join", q225GridEpsJoin _, Some(q225Sql)),
    ("q448_embedding_eps_join", q448EmbeddingEpsJoin _, Some(q448Sql)),
    ("q449_trajectory_sessions", q449TrajectorySessions _, Some(q449Sql)),
    ("q451_semantic_dedup", q451SemanticDedup _, Some(q451Sql)))
}
