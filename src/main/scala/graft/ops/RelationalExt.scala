package graft.ops

import graft.functions.GraftFunctions.cosineSim
import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Typed row for the Dataset-API query (q48). */
case class LineitemSlim(l_orderkey: Long, l_quantity: Double,
                        l_extendedprice: Double, l_returnflag: String)

/** Second wave of relational surface: SQL-API entry points (GROUPING SETS,
  * correlated subqueries), pivot, percentiles, deterministic hash sampling,
  * window analytics, CSV/JSON source roundtrips, approx distinct.
  */
object RelationalExt {

  private def moneySum(c: org.apache.spark.sql.Column) = Num.moneySum(c)

  // --------------------------------------------------------------------------
  // q23 — GROUPING SETS through the spark.sql entry point (SQL API parity:
  // the same engine surface a SQL-first user of the library hits). The
  // SQL operators here (q23, q25, q147) register their temp views on the
  // `withConf` child, never in the caller's catalog; two concurrent calls
  // with different `dir`s on one session still share the child's view
  // names, so one may read the other's tables.
  def q23GroupingSets(spark: SparkSession, dir: String): DataFrame =
    GraftSession.withConf(spark) { c =>
      Tables.orders(c, dir).createOrReplaceTempView("orders")
      c.sql(
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          |  COALESCE(o_orderpriority, 'ALL') AS priority,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin)
    }

  val q23Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  // --------------------------------------------------------------------------
  // q24 — approx_count_distinct (HLL++). Sketch internals are engine-
  // specific, so (q55 pattern) the oracle-checked output carries the EXACT
  // distinct count plus a 5%-accuracy flag (default rsd 0.05) the oracle
  // pins to TRUE — the driver compare asserts the sketch's error bound.
  // RelationalExtSpec additionally bounds the raw estimate.
  private[ops] def q24Raw(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy(col("l_returnflag"))

  def q24ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    q24Raw(spark, dir)
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("approx_within_5pct"))
      .orderBy(col("l_returnflag"))

  val q24Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS approx_within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------------
  // q25 — correlated EXISTS + scalar subquery via spark.sql. The scalar
  // average goes through decimal so both engines see the identical double.
  def q25Subqueries(spark: SparkSession, dir: String): DataFrame =
    GraftSession.withConf(spark) { c =>
      Tables.customer(c, dir).createOrReplaceTempView("customer")
      Tables.orders(c, dir).createOrReplaceTempView("orders")
      c.sql(q25Sql)
    }

  val q25Sql: String =
    """SELECT c_custkey, c_acctbal FROM customer c
      |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |                          / COUNT(*) FROM customer)
      |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |              AND o.o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------------
  // q26 — pivot: one column per l_returnflag value (explicit value list →
  // no extra pass to discover values, and a scale requirement anyway).
  def q26Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(moneySum(col("l_quantity")))
      .orderBy(col("l_linestatus"))

  val q26Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
      |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // --------------------------------------------------------------------------
  // q27 — deterministic hash sampling: portable md5-prefix predicate (the
  // scalable alternative to seed-dependent sample(): reproducible across
  // engines, runs, and partitionings; pushes down as a cheap filter).
  def q27HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1).isin("0", "1"))
      .agg(
        count(lit(1)).as("n_sampled"),
        moneySum(col("o_totalprice")).as("sum_price"))

  val q27Sql: String =
    """SELECT COUNT(*) AS n_sampled,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')""".stripMargin

  // --------------------------------------------------------------------------
  // q28 — exact percentiles with linear interpolation per group.
  def q28Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("pct"))
      .select(
        col("l_returnflag"),
        Num.pround(element_at(col("pct"), 1), 6).as("p25"),
        Num.pround(element_at(col("pct"), 2), 6).as("p50"),
        Num.pround(element_at(col("pct"), 3), 6).as("p75"))
      .orderBy(col("l_returnflag"))

  val q28Sql: String =
    """SELECT l_returnflag,
      |  FLOOR((quantile_cont(l_quantity, 0.25)) * 1e6 + 0.5) / 1e6 AS p25,
      |  FLOOR((quantile_cont(l_quantity, 0.50)) * 1e6 + 0.5) / 1e6 AS p50,
      |  FLOOR((quantile_cont(l_quantity, 0.75)) * 1e6 + 0.5) / 1e6 AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------------
  // q29 — analytic window functions: first/last/nth over a full-partition
  // frame, dense_rank and ntile.
  def q29Analytics(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(first(col("o_orderdate")).over(full), "yyyy-MM-dd HH:mm:ss").as("first_date"),
        date_format(last(col("o_orderdate")).over(full), "yyyy-MM-dd HH:mm:ss").as("last_date"),
        date_format(nth_value(col("o_orderdate"), 2).over(full), "yyyy-MM-dd HH:mm:ss").as("second_date"),
        dense_rank().over(ord).as("drank"),
        ntile(4).over(ord).as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q29Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  STRFTIME(FIRST_VALUE(o_orderdate) OVER w_full, '%Y-%m-%d %H:%M:%S') AS first_date,
      |  STRFTIME(LAST_VALUE(o_orderdate) OVER w_full, '%Y-%m-%d %H:%M:%S') AS last_date,
      |  STRFTIME(NTH_VALUE(o_orderdate, 2) OVER w_full, '%Y-%m-%d %H:%M:%S') AS second_date,
      |  CAST(DENSE_RANK() OVER w_ord AS INT) AS drank,
      |  CAST(NTILE(4) OVER w_ord AS INT) AS quartile
      |FROM orders
      |WINDOW
      |  w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |  w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------------------
  // q44 — brute-force cosine top-k using the native codegen'd Expression
  // (same semantics as q40's lambda-fold version, same oracle; the fused
  // single-pass loop replaces three interpreted folds per pair).
  def q44CosineTopkNative(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    base.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", cosineSim(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("vec_id"), Num.pround(col("sim"), 4).as("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  // --------------------------------------------------------------------------
  // q51 — CSV sink→source roundtrip: write a projection to quoted CSV, read
  // it back with an explicit schema, aggregate. Java shortest-roundtrip
  // double formatting makes the roundtrip value-exact, so the oracle checks
  // the same aggregate straight off the parquet table.
  def q51CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // per-application path: a shared fixed dir would let two concurrent
    // sessions clobber each other's roundtrip mid-query
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip_${spark.sparkContext.applicationId}"
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").option("header", "true").csv(path)
    spark.read
      .schema("l_orderkey LONG, l_quantity DOUBLE, l_extendedprice DOUBLE")
      .option("header", "true")
      .csv(path)
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"))
  }

  val q51Sql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem WHERE l_quantity > 45.0""".stripMargin

  // --------------------------------------------------------------------------
  // q52 — JSON: from_json with an explicit schema (typed struct access, vs
  // q17's get_json_object string path) + a JSON-lines sink/source roundtrip.
  def q52JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_json_roundtrip_${spark.sparkContext.applicationId}"
    Tables.events(spark, dir)
      .withColumn("props_s", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")))
      .select(col("event_id"), col("event_type"), col("value"), col("props_s.k").as("k"))
      .write.mode("overwrite").json(path)
    spark.read
      .schema("event_id LONG, event_type STRING, value DOUBLE, k LONG")
      .json(path)
      .groupBy((col("k") % 5).as("k_bucket"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("k_bucket"))
  }

  val q52Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS k_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin

  // --------------------------------------------------------------------------
  // q38 — data-profiling: per-column min/max/null-count/distinct over
  // lineitem, unpivoted to one row per column (the training-data-pipeline
  // "know your table" operator). One pass, all aggregates fused.
  def q38Profile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def prof(c: String) = struct(
      lit(c).as("col_name"),
      min(col(c)).cast("string").as("min_v"),
      max(col(c)).cast("string").as("max_v"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
      countDistinct(col(c)).as("n_distinct"))
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus")
    val profs = cols.zipWithIndex.map { case (c, i) => prof(c).as(s"prof_$i") }
    li.agg(profs.head, profs.tail: _*)
      .select(explode(array(cols.indices.map(i => col(s"prof_$i")): _*)).as("p"))
      .select(col("p.col_name"), col("p.min_v"), col("p.max_v"), col("p.n_null"), col("p.n_distinct"))
      .orderBy(col("col_name"))
  }

  val q38Sql: String =
    """SELECT col_name, min_v, max_v, n_null, n_distinct FROM (
      |  SELECT 'l_orderkey' AS col_name, CAST(MIN(l_orderkey) AS VARCHAR) AS min_v, CAST(MAX(l_orderkey) AS VARCHAR) AS max_v,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, COUNT(DISTINCT l_orderkey) AS n_distinct FROM lineitem
      |  UNION ALL SELECT 'l_partkey', CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR),
      |    CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT l_partkey) FROM lineitem
      |  UNION ALL SELECT 'l_suppkey', CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR),
      |    CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT l_suppkey) FROM lineitem
      |  UNION ALL SELECT 'l_linenumber', CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR),
      |    CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT l_linenumber) FROM lineitem
      |  UNION ALL SELECT 'l_returnflag', MIN(l_returnflag), MAX(l_returnflag),
      |    CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT l_returnflag) FROM lineitem
      |  UNION ALL SELECT 'l_linestatus', MIN(l_linestatus), MAX(l_linestatus),
      |    CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT l_linestatus) FROM lineitem)
      |ORDER BY col_name""".stripMargin

  // --------------------------------------------------------------------------
  // q64 — event funnel: users whose first 'signup' is followed by a
  // 'purchase' within 1 hour. Window-min per user (one shuffle on user_id),
  // no self-join — the scalable sessionization shape.
  def q64Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstSignup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val firstPurchaseAfter = ev.filter(col("event_type") === "purchase")
      .join(firstSignup, "user_id")
      .filter(col("ts") >= col("signup_ts"))
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("ts")).as("purchase_ts"))
    firstPurchaseAfter
      .filter(col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select(
        col("user_id"),
        date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_s"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_s"))
      .orderBy(col("user_id"))
  }

  val q64Sql: String =
    """WITH s AS (
      |  SELECT user_id, MIN(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, s.signup_ts, MIN(e.ts) AS purchase_ts
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      |  GROUP BY e.user_id, s.signup_ts)
      |SELECT user_id,
      |  STRFTIME(signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_s,
      |  STRFTIME(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_s
      |FROM p WHERE purchase_ts <= signup_ts + INTERVAL '1 hour'
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------------
  // q48 — typed Dataset API: case-class rows, lambda filter, groupByKey +
  // TypedColumn aggregation (the compile-time-checked surface; same engine
  // underneath — Catalyst still prunes/pushes the scan columns).
  def q48TypedDataset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      // null-KEY contract: l_orderkey is a primitive Long in
      // LineitemSlim — keyless rows drop at the typed boundary,
      // mirrored in the oracle (WHERE l_orderkey IS NOT NULL)
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
      .as[LineitemSlim]
      .filter(r => r.l_quantity > 25.0 && r.l_returnflag != "N")
      .groupByKey(_.l_returnflag)
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as[Double].name("sum_qty"),
        count(lit(1)).as[Long].name("n"))
      .toDF("l_returnflag", "sum_qty", "n")
      .orderBy(col("l_returnflag"))
  }

  val q48Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem WHERE l_orderkey IS NOT NULL
      |  AND l_quantity > 25.0 AND l_returnflag <> 'N'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------------
  // q57 — map-typed column surface: per user build map<event_type, count>,
  // prune small entries with map_filter, explode back to rows. The map is
  // genuine intermediate state (map_from_entries → map_filter → explode);
  // the oracle checks the equivalent relational form.
  def q57MapOps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // a NULL event_type cannot be a map key (SQL maps reject null
      // keys) — typeless events drop from the per-user type map
      .filter(col("event_type").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("cnt")))).as("m"))
      .withColumn("m", expr("map_filter(m, (k, v) -> v >= 3)"))
      .select(col("user_id"), explode(col("m")).as(Seq("event_type", "cnt")))
      .orderBy(col("user_id"), col("event_type"))

  val q57Sql: String =
    """SELECT user_id, event_type, COUNT(*) AS cnt
      |FROM events WHERE event_type IS NOT NULL
      |GROUP BY user_id, event_type
      |HAVING COUNT(*) >= 3
      |ORDER BY user_id, event_type""".stripMargin

  // --------------------------------------------------------------------------
  // q58 — array-of-struct surface: collect each customer's orders as an
  // array, sort it descending by price in-array, slice the top 3, inline
  // back to rows. Same result as the q07 window formulation — here built
  // through collect_list/sort_array/slice/inline (the nested-data path).
  def q58ArrayStructs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(collect_list(struct(col("o_totalprice"), col("o_orderkey"))).as("orders"))
      // sort_array on struct sorts by fields in order → price asc, key asc;
      // reverse for price desc (ties: orderkey desc — mirror in the oracle)
      .withColumn("top3", slice(reverse(sort_array(col("orders"))), 1, 3))
      .select(col("o_custkey"), posexplode(col("top3")))
      .select(
        col("o_custkey"),
        (col("pos") + 1).as("rn"),
        col("col.o_orderkey").as("o_orderkey"),
        col("col.o_totalprice").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))

  val q58Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS INT) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // --------------------------------------------------------------------------
  // q59 — regexp_extract_all: tokenize part names by regex, count and take
  // first match per row.
  def q59RegexpAll(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .withColumn("words", regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0)))
      .select(
        col("p_partkey"),
        size(col("words")).as("n_words"),
        element_at(col("words"), 1).as("first_word"),
        array_join(col("words"), "_").as("joined"))
      .orderBy(col("p_partkey"))

  val q59Sql: String =
    """SELECT p_partkey,
      |  CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INT) AS n_words,
      |  regexp_extract_all(p_name, '[a-z]+')[1] AS first_word,
      |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), '_') AS joined
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------------
  // q46 — full outer join with null-safe key handling: per-key order counts
  // from two disjoint-ish filtered views of orders, stitched full-outer.
  def q46FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val hi = o.filter(col("o_totalprice") > 150000.0)
      .groupBy(col("o_custkey").as("k_hi")).agg(count(lit(1)).as("n_hi"))
    val lo = o.filter(col("o_totalprice") < 50000.0)
      .groupBy(col("o_custkey").as("k_lo")).agg(count(lit(1)).as("n_lo"))
    hi.join(lo, col("k_hi") <=> col("k_lo"), "full_outer")
      .select(
        coalesce(col("k_hi"), col("k_lo")).as("custkey"),
        coalesce(col("n_hi"), lit(0L)).as("n_hi"),
        coalesce(col("n_lo"), lit(0L)).as("n_lo"))
      .orderBy(col("custkey"))
  }

  val q46Sql: String =
    """WITH hi AS (SELECT o_custkey AS k_hi, COUNT(*) AS n_hi FROM orders
      |            WHERE o_totalprice > 150000.0 GROUP BY 1),
      |lo AS (SELECT o_custkey AS k_lo, COUNT(*) AS n_lo FROM orders
      |       WHERE o_totalprice < 50000.0 GROUP BY 1)
      |SELECT COALESCE(k_hi, k_lo) AS custkey,
      |  COALESCE(n_hi, 0) AS n_hi, COALESCE(n_lo, 0) AS n_lo
      |FROM hi FULL OUTER JOIN lo ON k_hi IS NOT DISTINCT FROM k_lo
      |ORDER BY custkey""".stripMargin

  // --------------------------------------------------------------------------
  // q47 — array function surface over the embeddings table: slice, sort,
  // element access, containment, size. All portable to DuckDB list ops.
  def q47ArrayFns(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(
        col("vec_id"),
        size(col("v")).as("n_dims"),
        Num.pround(element_at(col("v"), 1), 6).as("first_v"),
        Num.pround(element_at(col("v"), -1), 6).as("last_v"),
        Num.pround(expr("array_max(slice(v, 1, 8))"), 6).as("max_head8"),
        Num.pround(element_at(array_sort(col("v")), 1), 6).as("min_sorted"),
        expr("array_position(array_sort(v), array_max(v))").cast("long").as("max_rank"))
      .orderBy(col("vec_id"))

  val q47Sql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS INT) AS n_dims,
      |  FLOOR((CAST(embedding[1] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS first_v,
      |  FLOOR((CAST(embedding[-1] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS last_v,
      |  FLOOR((list_max(embedding[1:8]::DOUBLE[])) * 1e6 + 0.5) / 1e6 AS max_head8,
      |  FLOOR((list_sort(embedding::DOUBLE[])[1]) * 1e6 + 0.5) / 1e6 AS min_sorted,
      |  CAST(list_position(list_sort(embedding::DOUBLE[]), list_max(embedding::DOUBLE[])) AS BIGINT) AS max_rank
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------------------
  // q83 — ORC sink → source roundtrip (third columnar-format surface after
  // parquet and CSV/JSON text). ORC carries its own schema + column
  // statistics, so the read back is footer-driven like parquet: predicate
  // pushdown and pruning apply to the re-read.
  def q83OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip_${spark.sparkContext.applicationId}"
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000.0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val q83Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_totalprice > 300000.0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------------------
  // q149 — UNPIVOT / melt (the inverse of q26's pivot): the wide
  // per-returnflag aggregate is melted back to long form with the typed
  // Dataset.unpivot API, and the ORACLE is the DIRECT long-form
  // aggregation — so the hash match is the pivot→unpivot roundtrip law.
  // Absent (status, flag) combos surface as NULL cells in the wide form
  // and are dropped, exactly matching the direct GROUP BY's row set.
  // Scale: unpivot is a row-local Expand (3 rows per wide row), no
  // shuffle beyond the originating aggregate's.
  def q149Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(moneySum(col("l_quantity")))
    wide.unpivot(
        Array(col("l_linestatus")),
        Array(col("A"), col("N"), col("R")),
        "returnflag", "sum_qty")
      .filter(col("sum_qty").isNotNull)
      .orderBy(col("l_linestatus"), col("returnflag"))
  }

  val q149Sql: String =
    """SELECT l_linestatus, l_returnflag AS returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY l_linestatus, returnflag""".stripMargin

  // --------------------------------------------------------------------------
  // q147 — LATERAL correlated subquery (SQL API parity, Spark 4 lateral
  // join support): top-2 orders per customer written the ergonomic way —
  // a per-row correlated subquery with ORDER BY + LIMIT — rather than the
  // q07 window formulation. Catalyst DECORRELATES it: the plan is a hash
  // join + per-key limit, not N correlated executions (the probe plan
  // shows BroadcastHashJoin — no re-scan per customer row).
  // Deterministic: the inner ordering totalizes ties with o_orderkey.
  def q147LateralTopk(spark: SparkSession, dir: String): DataFrame =
    GraftSession.withConf(spark) { c =>
      Tables.customer(c, dir).createOrReplaceTempView("customer")
      Tables.orders(c, dir).createOrReplaceTempView("orders")
      c.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
          |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
    }

  val q147Sql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin

  // --------------------------------------------------------------------------
  // q227 — CUSTOM DATASOURCE V2 scan with pushdown (graft.sources.
  // SynthSource): reads the deterministic synthetic table through the
  // full DSv2 stack — the id-range predicate is CONSUMED by the source
  // (narrows the generated range and prunes grid partitions), the
  // aggregate's column needs prune the reader to (bucket, score), and
  // the residual bucket predicate is the only filter Spark evaluates.
  // PlanSpec asserts all three on the executed plan; the oracle
  // regenerates the identical rows from range() + the portable md5.
  //
  // Determinism: score is the dyadic md5 uniform; the per-bucket sum
  // rides exact scaled longs (floor(score·1e12)), one double division
  // at output.
  def q227Dsv2Pushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-synth")
      .option("rows", 100000L).option("partitions", 8)
      .load()
      .filter(col("id") >= 20000L && col("id") < 30000L && col("bucket") < 10)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        Num.pround(sum(floor(col("score") * 1e12).cast("long")).cast("double") / 1e12, 6)
          .as("sum_score"))
      .orderBy(col("bucket"))

  val q227Sql: String =
    """WITH s AS (
      |  SELECT range AS id, CAST(range % 97 AS INT) AS bucket,
      |    (('0x' || substr(md5('synth:' || range::VARCHAR), 1, 13))::BIGINT + 0.5)
      |      / 4503599627370496.0 AS score
      |  FROM range(20000, 30000))
      |SELECT bucket, COUNT(*) AS n,
      |  FLOOR((CAST(SUM(CAST(FLOOR(score * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) * 1e6 + 0.5) / 1e6
      |    AS sum_score
      |FROM s WHERE bucket < 10 GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------------------
  // q262 — MALFORMED-RECORD HANDLING on a dirty CSV feed: the ingestion
  // reality q51's clean roundtrip never meets. A landing file is staged
  // with two deliberate corruption classes (wrong arity on every key
  // ≡ 0 mod 13, a non-numeric amount on ≡ 1 mod 13); the entry reads it
  // TWICE — PERMISSIVE with columnNameOfCorruptRecord (quarantine the
  // bad lines, keep the batch) and DROPMALFORMED (the strict view) — and
  // reports total/corrupt/kept counts plus the exact clean-row sum. The
  // invariant a production feed relies on is visible in the result:
  // permissive-kept == dropmalformed-kept, and corrupt row COUNT is
  // preserved, never silently dropped.
  def q262CsvMalformed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val slot = Staging.ensure("q262_csv", dir) { path =>
      Tables.orders(spark, dir).select(
        when(col("o_orderkey") % 13 === 0,
          concat(col("o_orderkey").cast("string"), lit(",oops,extra")))
          .when(col("o_orderkey") % 13 === 1,
            concat(col("o_orderkey").cast("string"), lit(",not_a_number")))
          .otherwise(concat(col("o_orderkey").cast("string"), lit(","),
            col("o_totalprice").cast(DecimalType(18, 2)).cast("string")))
          .as("value"))
        .write.mode("overwrite").text(path)
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("price", DoubleType),
      StructField("_corrupt", StringType)))
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(slot)
      .select(col("k"), col("price"), col("_corrupt"))
      .agg(count(lit(1)).as("n_total"),
        count_if(col("_corrupt").isNotNull).as("n_corrupt"),
        count_if(col("_corrupt").isNull).as("n_kept_permissive"),
        sum(when(col("_corrupt").isNull,
          expr("cast(cast(price as decimal(18,2)) * 100 as decimal(38,0))"))).as("cents"))
    // count(price), not count(*): CSV column pruning means an aggregate
    // that parses NO fields also detects no malformation — the count must
    // reference the column whose parse failures define "malformed"
    val strict = spark.read
      .schema(StructType(Seq(
        StructField("k", LongType), StructField("price", DoubleType))))
      .option("mode", "DROPMALFORMED").csv(slot)
      .agg(count(col("price")).as("n_kept_dropmalformed"))
    perm.crossJoin(broadcast(strict))
      .select(col("n_total"), col("n_corrupt"), col("n_kept_permissive"),
        col("n_kept_dropmalformed"),
        Num.pround(col("cents").cast("double") / 100.0, 2).as("clean_total"))
  }

  val q262Sql: String =
    """SELECT COUNT(*) AS n_total,
      |  CAST(COUNT(*) FILTER (WHERE o_orderkey % 13 IN (0, 1)) AS BIGINT) AS n_corrupt,
      |  CAST(COUNT(*) FILTER (WHERE o_orderkey % 13 NOT IN (0, 1)) AS BIGINT)
      |    AS n_kept_permissive,
      |  CAST(COUNT(*) FILTER (WHERE o_orderkey % 13 NOT IN (0, 1)) AS BIGINT)
      |    AS n_kept_dropmalformed,
      |  FLOOR((CAST(SUM(CASE WHEN o_orderkey % 13 NOT IN (0, 1)
      |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) END)
      |    AS DOUBLE) / 100.0) * 1e2 + 0.5) / 1e2 AS clean_total
      |FROM orders""".stripMargin

  // ═════════════════ formerly Round8bOps (consolidated round 10) ═════════════════

  // --------------------------------------------------------------------------
  // q290 — DSv2 SINK ROUND-TRIP: write the per-status order aggregate
  // through the `graft-sink` V2 connector (stage-per-attempt → task
  // commit messages → driver publish + rename-atomic _SUCCESS manifest —
  // see sources/GraftSink.scala), then read back EXACTLY the files the
  // manifest names (the sink's reader contract: the dir accretes parts
  // across jobs; the manifest is the pointer swap) and return them. The
  // oracle recomputes the aggregate straight from orders, so the hash
  // check proves the commit protocol published exactly the written rows
  // — nothing lost, nothing doubled, and on repeat invocations (bench
  // best-of-N) nothing double-read from the prior job's parts.
  // PackingTopicsItemCfSpec (formerly Round8bOpsSpec) drives the abort path (a poisoned task must leave no
  // published files and no manifest).
  //
  // Output lands in the fixed Staging slot for (q290sink, dir) — the
  // round-8 advice fix for the temp-dir-per-invocation leak; `clean`
  // reclaims it. The slot is NOT ensure-once: the sink write IS the
  // measured operator, so every invocation re-writes and re-publishes.
  def q290DsvSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Staging.pathFor("q290sink", dir)
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        (sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          * 100).cast("long").as("total_cents"))
      .write.format("graft-sink").option("path", out).mode("append").save()
    val manifest = java.nio.file.Path.of(out, "_SUCCESS")
    val files = java.nio.file.Files.readString(manifest).split("\n")
      .filter(_.nonEmpty).map(n => s"$out/$n").toSeq
    val schema = "o_orderstatus STRING, n BIGINT, total_cents BIGINT"
    spark.read.schema(schema).option("sep", "|")
      .csv(files: _*)
      .orderBy(col("o_orderstatus"))
  }

  val q290Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS total_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin


  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q227_dsv2_pushdown", q227Dsv2Pushdown _, Some(q227Sql)),
    ("q23_grouping_sets", q23GroupingSets _, Some(q23Sql)),
    ("q147_lateral_topk", q147LateralTopk _, Some(q147Sql)),
    ("q149_unpivot", q149Unpivot _, Some(q149Sql)),
    ("q83_orc_roundtrip", q83OrcRoundtrip _, Some(q83Sql)),
    ("q38_profile", q38Profile _, Some(q38Sql)),
    ("q46_full_outer", q46FullOuter _, Some(q46Sql)),
    ("q47_array_fns", q47ArrayFns _, Some(q47Sql)),
    ("q48_typed_dataset", q48TypedDataset _, Some(q48Sql)),
    ("q57_map_ops", q57MapOps _, Some(q57Sql)),
    ("q58_array_structs", q58ArrayStructs _, Some(q58Sql)),
    ("q59_regexp_all", q59RegexpAll _, Some(q59Sql)),
    ("q64_funnel", q64Funnel _, Some(q64Sql)),
    ("q24_approx_distinct", q24ApproxDistinct _, Some(q24Sql)),
    ("q25_subqueries", q25Subqueries _, Some(q25Sql)),
    ("q26_pivot", q26Pivot _, Some(q26Sql)),
    ("q27_hash_sample", q27HashSample _, Some(q27Sql)),
    ("q28_percentiles", q28Percentiles _, Some(q28Sql)),
    ("q29_window_analytics", q29Analytics _, Some(q29Sql)),
    ("q44_cosine_topk_native", q44CosineTopkNative _, Some(VectorOps.q40Sql)),
    ("q51_csv_roundtrip", q51CsvRoundtrip _, Some(q51Sql)),
    ("q52_json_roundtrip", q52JsonRoundtrip _, Some(q52Sql)),
    ("q262_csv_malformed", q262CsvMalformed _, Some(q262Sql)),
    // formerly Round8bOps
    ("q290_dsv2_sink", q290DsvSinkRoundtrip _, Some(q290Sql)))
}
