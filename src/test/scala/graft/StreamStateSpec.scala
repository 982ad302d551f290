package graft

import graft.ops.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Pins the WATERMARK-EVICTION contract of the streaming state operators
  * (SURVEY §8.10): over a time-ordered multi-batch replay, peak state
  * must be a watermark-window slice of the stream, never the whole
  * stream, and the streamed result must still equal its batch twin.
  * The same topologies were measured at 1×/3×/10× stream length (SURVEY
  * §8.10/§8.14/§8.16); this spec is the CI-fast guard that eviction keeps
  * happening at all.
  */
class StreamStateSpec extends SparkSpec {

  /** Time-ordered landing zone: n events over spanDays days (constant
    * arrival rate), 1500 users, 5 types, ts strictly increasing in
    * event_id, written as nFiles range-partitioned files with increasing
    * mod-times so the file source replays them in event-time order.
    */
  private def genEventsZone(spark: SparkSession, dir: String, n: Long,
      spanDays: Int, nFiles: Int): String = {
    val startUs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val stepUs = (spanDays * 86400L * 1000000L) / n // span / rows
    val zone = s"$dir/events_zone"
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(startUs) + col("id") * lit(stepUs) +
        pmod(xxhash64(col("id"), lit(3)), lit(stepUs))).as("ts"),
      pmod(xxhash64(col("id"), lit(7)), lit(1500)).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (pmod(xxhash64(col("id"), lit(11)), lit(5)) + 1).cast("int")).as("event_type"),
      round(pmod(xxhash64(col("id"), lit(13)), lit(19999)).cast("double") / 100.0 + 1.0, 2)
        .as("value"))
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(zone)
    // file-source replay order is (modificationTime, path) oldest-first;
    // task completion order is arbitrary, so pin increasing mod-times in
    // part order (range partition i = i-th time slice)
    val parts = new java.io.File(zone).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - (parts.length + 10) * 1000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 1000L) }
    zone
  }

  private lazy val zone: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_streamstate").toString
    // 6000 events / 30 days / 12 files → 6 ordered micro-batches of ~5
    // days each at 2 files/trigger; watermark (10 min) « batch span, so
    // join/dedup state should hold ~1-2 batches, never all 6
    genEventsZone(spark, dir, 6000L, 30, 12)
  }

  /** Drain the stream `build` makes into a memory sink on a child session
    * with 4 state partitions plus `conf`: the query, its peak state rows
    * and the sink's rows. */
  private def runAndMeasure(mode: String, qname: String, conf: (String, String)*)(
      build: SparkSession => DataFrame): (StreamingQuery, Long, DataFrame) = {
    var query: StreamingQuery = null
    val rows = GraftSession.withConf(spark, StreamingOps.statePartitions(4) +: conf: _*) { child =>
      query = build(child).writeStream.format("memory").queryName(qname)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      child.table(qname)
    }
    val peak = query.recentProgress.map(p => p.stateOperators.map(_.numRowsTotal).sum)
      .foldLeft(0L)(math.max)
    (query, peak, rows)
  }

  test("interval-join state is watermark-evicted over an ordered replay, result equals batch twin") {
    val (_, peak, joined) = runAndMeasure("append", "graft_sss_join") {
      StreamingOps.intervalJoined(_, zone, "inner", 2)
    }
    val sideRows = spark.read.parquet(zone)
      .filter(col("event_type").isin("click", "purchase")).count()
    assert(peak > 0, "join must have buffered some state")
    assert(peak < (sideRows * 7) / 10,
      s"peak join state $peak should be a batch-window slice of the $sideRows side rows, not the whole stream")

    // the streamed match set must equal the batch interval join exactly
    val streamed = joined.count()
    val ev = spark.read.parquet(zone)
    val c = ev.filter(col("event_type") === "click").select(
      col("user_id"), col("event_id").as("cid"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
    val batch = c.join(p, Seq("user_id"))
      .filter(col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES")).count()
    assert(streamed === batch)
  }

  test("transformWithState holds exactly one state row per user") {
    val (query, peak, _) = runAndMeasure("update", "graft_sss_tws", StreamingOps.rocksDb) {
      StreamingOps.userTotalsUpdates(_, zone, 2)
    }
    val users = spark.read.parquet(zone).select("user_id").distinct().count()
    val finalState = query.recentProgress.last.stateOperators.map(_.numRowsTotal).sum
    assert(finalState === users,
      s"per-user ValueState must be |users|=$users rows, got $finalState")
    assert(peak === users, s"state never exceeds |users|, got peak $peak")
  }

  // ---------------------------------------------------------------------
  // Crash/restart probes for the transformWithState store (round-8
  // verdict task 7): q230 proved the file-source offset log + file-sink
  // commit log give exactly-once across runs; these extend the same
  // kill-between-micro-batches shape to the CUSTOM STATE surfaces —
  // MapState (q252's top-k) and event-time timers (q231's sessions). Half
  // the zone lands, an AvailableNow run drains it under a checkpoint, the
  // rest lands, a second run resumes FROM THE CHECKPOINT; the merged
  // output must equal the uninterrupted run bit-for-bit. A dropped or
  // rebuilt state store cannot pass: top-k values that interleave across
  // the split would regress, and boundary-spanning sessions would split.

  private def splitZone(work: String): (Array[java.io.File], Array[java.io.File], String) = {
    val staged = s"$work/zone"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(staged))
    val parts = new java.io.File(zone).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val (h1, h2) = parts.splitAt(parts.length / 2)
    (h1, h2, staged)
  }

  private def land(files: Array[java.io.File], staged: String): Unit =
    files.foreach { f =>
      // preserve the zone's PINNED mod-times: the file source replays in
      // (modTime, path) order, and a bare copy stamps "now" on every file,
      // which scrambles the time-ordered replay the timer contract needs
      val dst = java.nio.file.Path.of(staged, f.getName)
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(f.lastModified())
    }

  test("q252 MapState top-k survives a mid-stream restart from checkpoint") {
    val work = java.nio.file.Files.createTempDirectory("graft_q252_rst").toString
    val (h1, h2, staged) = splitZone(work)
    // foreachBatch → parquet: the sink that both accumulates across runs
    // and supports checkpoint recovery (memory sink recovers nothing)
    def drain(src: String, cp: String, out: String): DataFrame =
      GraftSession.withConf(spark, StreamingOps.rocksDb, StreamingOps.statePartitions(4)) { child =>
        StreamingOps.topValuesUpdates(child, src, 2)
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              batch.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", cp)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        child.read.parquet(out)
      }
    land(h1, staged)
    drain(staged, s"$work/cp", s"$work/out")     // run 1: first half
    land(h2, staged)
    drain(staged, s"$work/cp", s"$work/out")     // run 2: resumes state
    drain(zone, s"$work/cp_solid", s"$work/out_solid") // uninterrupted twin
    def reduced(path: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(path).groupBy(col("user_id"))
        .agg(max(struct(col("v1"), col("v2"), col("v3"))).as("m"))
        .select(col("user_id"), col("m.v1"), col("m.v2"), col("m.v3"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    val restarted = reduced(s"$work/out")
    val solid = reduced(s"$work/out_solid")
    assert(restarted.nonEmpty)
    assert(restarted === solid,
      "restarted MapState run diverged from the uninterrupted run — state not recovered")
  }

  test("q231 timer sessions survive a mid-stream restart from checkpoint") {
    val work = java.nio.file.Files.createTempDirectory("graft_q231_rst").toString
    val (h1, h2, staged) = splitZone(work)
    def drain(src: String, cp: String, out: String): DataFrame =
      GraftSession.withConf(spark, StreamingOps.rocksDb, StreamingOps.statePartitions(4)) { child =>
        StreamingOps.timerSessionStream(child, src, 2)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        child.read.parquet(out)
      }
    land(h1, staged)
    drain(staged, s"$work/cp", s"$work/out")
    land(h2, staged)
    drain(staged, s"$work/cp", s"$work/out")
    drain(zone, s"$work/cp_solid", s"$work/out_solid")
    def sessions(path: String): Array[String] =
      spark.read.parquet(path).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val restarted = sessions(s"$work/out")
    val solid = sessions(s"$work/out_solid")
    assert(restarted.nonEmpty)
    assert(restarted === solid,
      "restarted timer-session run diverged from the uninterrupted run — timers/state not recovered")
  }

  test("dropDuplicatesWithinWatermark evicts seen-key state behind the watermark") {
    val (_, peak, deduped) = runAndMeasure("append", "graft_sss_dedup") {
      s => StreamingOps.dedupWithinWmStream(s, zone, 2).select("event_id", "event_type", "value")
    }
    val n = spark.read.parquet(zone).count()
    assert(peak > 0)
    assert(peak < n / 2,
      s"dedup state $peak should be a watermark-window set, not all $n keys (plain dropDuplicates would hold $n)")
    // every event arrives twice (double feed); exactly one copy survives
    assert(deduped.count() === n)
  }
}
