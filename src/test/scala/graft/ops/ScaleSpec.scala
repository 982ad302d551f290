package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-mechanics proofs: bucketed co-located joins eliminate the shuffle,
  * salted joins/aggregations preserve results.
  */
class ScaleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val DimN = 60000L

  /** fact: 600k·m rows; key 1 holds ~20%, rest uniform over the dim
    * domain. dim: one row per key.
    */
  private def genFact(spark: SparkSession, m: Int): DataFrame =
    spark.range(600000L * m).select(
      when(pmod(xxhash64(col("id"), lit(3)), lit(5)) === 0, lit(1L))
        .otherwise(pmod(xxhash64(col("id"), lit(5)), lit(DimN)) + 1).as("k"),
      (pmod(xxhash64(col("id"), lit(7)), lit(100000)).cast("double") / 100.0).as("v"))

  private def genDim(spark: SparkSession): DataFrame =
    spark.range(DimN).select((col("id") + 1).as("dk"),
      pmod(xxhash64(col("id"), lit(11)), lit(25)).cast("int").as("grp"))

  test("bucketed tables join without any Exchange (co-located sort-merge join)") {
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").mode("overwrite").saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    val n = joined.collect()(0).getAs[Long]("n")

    // same join un-bucketed for the expected count
    val expected = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(n === expected)

    val plan = joined.queryExecution.executedPlan.toString
    val joinSection = plan.linesIterator.dropWhile(!_.contains("SortMergeJoin")).mkString("\n")
    assert(!joinSection.contains("Exchange"),
      s"bucketed join should not shuffle either side:\n$plan")
  }

  test("q150 catalog entry joins its bucketed tables with zero Exchange under the join") {
    // broadcast would hide the property at this tiny SF (AQE happily
    // broadcasts sf0.001 lineitem); the bucketed layout matters exactly in
    // the big-big regime, so pin the check there
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val df = Relational.q150BucketedJoin(spark, dir)
      df.collect()
      // keep only the AQE final plan (the echoed "Initial Plan" repeats the
      // whole tree and would re-introduce the above-join Exchanges)
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val joinSection = plan.linesIterator
        .dropWhile(!_.contains("SortMergeJoin")).mkString("\n")
      assert(joinSection.nonEmpty, plan)
      assert(!joinSection.contains("Exchange"),
        s"q150's bucketed join must not shuffle either side:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("partitionBy write + filter read hits partition pruning, not a full scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val days = spark.read.parquet(out).select("day").distinct().count()
    assert(days > 1, s"need multiple partitions for a pruning test, got $days")
    val pruned = spark.read.parquet(out)
      .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-01")))
      .agg(count(lit(1)).as("n"))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"), plan)
  }

  test("dynamic partition pruning: a filtered dim join prunes fact partitions at runtime") {
    // fact partitioned on the join key; the selective filter sits on the
    // dim side only — static pruning can't see it, so the scan must take a
    // runtime (dynamicpruning) subquery filter. At 100 TB this is the
    // difference between scanning one date partition and all of them.
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val dim = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type")).distinct()
    val joined = spark.read.parquet(out)
      .join(dim.filter(col("event_type") === "purchase"), Seq("day"))
      .agg(count(lit(1)).as("n"))
    assert(joined.collect()(0).getAs[Long]("n") > 0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
  }

  test("runtime bloom filter: selective dim filter is pushed to the fact scan of a shuffle join") {
    // the shuffle-join complement of DPP: when the fact side is too big to
    // broadcast and not partitioned on the join key, Spark can still build
    // a bloom filter from the filtered dim side and semi-filter the fact
    // rows BEFORE the shuffle. Thresholds are lowered to trigger at test
    // scale; at 100 TB the defaults (10MB creation side) do this untuned.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val joined = Tables.lineitem(spark, dir)
        .join(
          Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      assert(joined.collect()(0).getAs[Long]("n") > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected a runtime bloom filter on the fact side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("observe() metrics count rows and nulls in-flight, no second pass") {
    val masked = Tables.customer(spark, dir)
      .select(when(col("c_custkey") % 9 === 0, lit(null))
        .otherwise(col("c_acctbal")).as("bal"))
    val observed = Metrics.observeQuality(masked, "stage_quality", "bal")
    // NOTE: .count() would build a SEPARATE queryExecution whose metrics
    // this handle can't see — act through the observed frame itself
    val total = observed.collect().length.toLong
    val m = observed.queryExecution.observedMetrics("stage_quality")
    assert(m.getAs[Long]("n_rows") === total)
    val expectedNulls = masked.filter(col("bal").isNull).count()
    assert(m.getAs[Long]("n_null") === expectedNulls && expectedNulls > 0)
    assert(m.getAs[Double]("min_v") <= m.getAs[Double]("max_v"))
  }

  test("repartitionByRange + sortWithinPartitions yields files with disjoint key ranges (zone-map-friendly)") {
    val out = java.nio.file.Files.createTempDirectory("graft_range").toString
    Tables.orders(spark, dir)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(out)
    // compare as epoch micros — the loader normalizes the column to
    // TimestampType whatever unit the generator wrote, so the external
    // row type must not be assumed (Timestamp vs LocalDateTime)
    val stats = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("o_orderdate").cast("timestamp"))).as("lo"),
        max(unix_micros(col("o_orderdate").cast("timestamp"))).as("hi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(stats.length >= 3, s"want multiple range files, got ${stats.length}")
    // equal keys land in one partition, so file ranges never interleave —
    // parquet min/max footer stats then prune date predicates to one file
    stats.sliding(2).foreach { case Array(a, b) =>
      assert(b._1 >= a._2, s"overlap: $a vs $b")
    }
  }

  test("salted equi-join returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = Skew.saltedEquiJoin(li, ord, "l_orderkey", "o_orderkey", 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(plain.length === salted.length)
    assert(plain.toSeq === salted.toSeq)
  }

  test("AQE skew-join splits the hot partition (skew=true in the final plan)") {
    // The SURVEY §8.11 skew input at 1×: one key holds 20% of 600k fact
    // rows. With 64 shuffle partitions the hot partition is ~2 MB vs ~120 KB median
    // (factor ~17 > 5), so with thresholds sized to the volume AQE MUST
    // take the skew split — this pins the safety net the catalog relies
    // on for un-salted joins.
    val fact = genFact(spark, 1).localCheckpoint()
    val dim = genDim(spark).localCheckpoint()
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val agg = fact.join(dim, col("k") === col("dk"))
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew split in the final plan:\n$plan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salting bounds the max shuffle-partition row count on a 20%-hot key") {
    // deterministic balance check with the SAME Murmur3 hash Spark's
    // HashPartitioning uses: salting 16 ways must cut the hot partition
    // by at least 4× (expected ~9×: 120k hot rows spread over 16 salts)
    val fact = genFact(spark, 1).localCheckpoint()
    val p = 32
    def maxPart(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Long =
      df.groupBy(pmod(hash(cols.map(col): _*), lit(p)).as("part"))
        .count().agg(max("count")).head().getLong(0)
    val plainMax = maxPart(fact, Seq("k"))
    val saltedMax = maxPart(
      fact.withColumn("__salt",
        pmod(xxhash64(fact.columns.map(col): _*), lit(16L)).cast("int")),
      Seq("k", "__salt"))
    assert(plainMax > 100000L, s"generator should plant a ~120k-row hot partition, got $plainMax")
    assert(saltedMax * 4 < plainMax,
      s"salted max partition $saltedMax should be ≪ plain $plainMax")
  }

  test("bloom-prune join returns exactly the plain join's rows") {
    // the sketch prune may leak false positives into the join input, but
    // NEVER into the join output — result equivalence is the contract
    val dim = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val fact = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val plain = fact.join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey"), col("o_totalprice"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val pruned = Skew.bloomPruneJoin(fact, dim, "o_custkey", "c_custkey", 0.01)
      .select(col("o_custkey"), col("o_totalprice"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(plain.length === pruned.length)
    assert(plain.toSeq === pruned.toSeq)
  }

  test("partitioned catalog table: DDL, dynamic partition overwrite, SHOW PARTITIONS, pruned scan") {
    // Hive-style partitioned TABLE through the catalog (vs. the raw-path
    // test above): the layout ops a warehouse user drives with SQL.
    spark.sql("DROP TABLE IF EXISTS orders_by_status")
    Tables.orders(spark, dir)
      .withColumn("status", col("o_orderstatus"))
      .select("o_orderkey", "o_totalprice", "status")
      .write.mode("overwrite").partitionBy("status")
      .format("parquet").saveAsTable("orders_by_status")

    val parts = spark.sql("SHOW PARTITIONS orders_by_status").collect().map(_.getString(0))
    assert(parts.length > 1, parts.mkString(","))
    assert(parts.exists(_.startsWith("status=")))

    // dynamic partition overwrite rewrites ONLY the touched partition
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val before = spark.table("orders_by_status")
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val onePart = before.keySet.min
      spark.table("orders_by_status")
        .filter(col("status") === onePart)
        .limit(5)
        .write.mode("overwrite").insertInto("orders_by_status")
      val after = spark.table("orders_by_status")
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after(onePart) === 5L, s"overwritten partition: ${after(onePart)}")
      (before.keySet - onePart).foreach(k => assert(after(k) === before(k), k))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    // catalog scans prune on the partition column
    val q = spark.table("orders_by_status").filter(col("status") === "F")
      .agg(count(lit(1)))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*status[^\\]]*\\].*"), plan)
  }

  test("salted two-phase aggregation matches direct aggregation") {
    val li = Tables.lineitem(spark, dir)
      .withColumn("qd", col("l_quantity").cast(DecimalType(18, 2)))
    val direct = li.groupBy(col("l_returnflag")).agg(sum(col("qd")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val salted = ScaleSpec.saltedSum(li, "l_returnflag", "qd", 16)
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(direct.keySet === salted.keySet)
    direct.foreach { case (k, v) => assert(v.compareTo(salted(k)) === 0, k) }
  }
}

object ScaleSpec {

  /** Two-phase aggregation for skewed group keys: partial-aggregate on
    * (key, salt) first, then final-aggregate on key. Spark's hash aggregate
    * already does map-side partials; this adds a REDUCE-side split for keys
    * whose partial streams still overwhelm one reducer.
    */
  def saltedSum(df: DataFrame, key: String, valueCol: String, salts: Int): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(df.columns.map(col): _*), lit(salts.toLong)).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))
}
