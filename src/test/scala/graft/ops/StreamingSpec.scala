package graft.ops

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Drives the StreamingOps transforms under real Structured Streaming via
  * MemoryStream: batch/stream agreement, watermark late-data semantics,
  * stateful dedup, and custom flatMapGroupsWithState state.
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:$sec%02d")

  private def ev(id: Long, minute: Int, user: Long = 1L, typ: String = "click", v: Double = 1.5): EventRow =
    EventRow(id, ts(minute), user, typ, v)

  test("streaming tumbling aggregation equals the batch twin (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(ev(1, 0), ev(2, 3), ev(3, 12), ev(4, 14, typ = "buy"), ev(5, 25))
    val stream = MemoryStream[EventRow]
    stream.addData(data.take(2))
    stream.addData(data.drop(2))
    val q = StreamingOps.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_out").collect().map(_.toSeq).toSet
    val batch = StreamingOps.tumblingCounts(data.toDF()).collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.size === 4) // windows 10:00, 10:10 (x2 types), 10:20
  }

  test("q122 file-stream catalog entry executes a real streaming query and equals batch") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingOps.q122FileStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Num.moneySum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // rerunnable: the memory-sink query name is reusable across invocations
    assert(StreamingOps.q122FileStream(spark, dir).count() === streamed.size)
  }

  test("watermark finalizes windows in append mode and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.tumblingCounts(
      StreamingOps.withWatermark10m(stream.toDF()))
      .writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(ev(1, 0), ev(2, 5), ev(3, 12))
      q.processAllAvailable()
      // nothing finalized yet: watermark = 10:12 - 10m = 10:02 < window ends
      assert(spark.table("wm_out").count() === 0)
      stream.addData(ev(4, 120)) // sentinel far in the future
      q.processAllAvailable()
      // watermark now 12:00-10m=11:50 → both early windows finalized
      val out1 = spark.table("wm_out").collect()
        .map(r => (r.getAs[String]("window_start"), r.getAs[Long]("n"))).toMap
      assert(out1 === Map("2024-01-01 10:00:00" -> 2L, "2024-01-01 10:10:00" -> 1L))
      // a very late event for the already-finalized 10:00 window is dropped
      stream.addData(ev(5, 7))
      q.processAllAvailable()
      val out2 = spark.table("wm_out").collect()
      assert(out2.length === 2)
      assert(out2.map(r => r.getAs[Long]("n")).sum === 3L) // unchanged
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val stream = MemoryStream[EventRow]
    val q = StreamingSpec.enrichWithDim(stream.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(ev(1, 0, user = 1L), ev(2, 1, user = 2L))
      q.processAllAvailable()
      stream.addData(ev(3, 2, user = 3L)) // no dim row -> left join keeps it
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enrich_out").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("segment")).toMap
    assert(rows === Map(1L -> "gold", 2L -> "basic", 3L -> null))
  }

  test("stream-static anti-join dedup drops corpus copies and in-stream dups, first arrival wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("old text a", "old text b").toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("h"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingSpec.dedupAgainstCorpus(
        stream.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("corpus_dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData((10L, "old text a"), (11L, "fresh one"))
      q.processAllAvailable()
      stream.addData((12L, "fresh one"), (13L, "fresh two"), (14L, "old text b"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("corpus_dedup_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq === Seq(11L, 13L))
  }

  test("streaming dropDuplicates emits each event_id once across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(ev(1, 0), ev(2, 1), ev(1, 0))
      q.processAllAvailable()
      stream.addData(ev(2, 1), ev(3, 2))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingSpec.runningUserTotals(stream.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update).start()
    try {
      stream.addData(ev(1, 0, user = 1, v = 2.0), ev(2, 1, user = 2, v = 3.0))
      q.processAllAvailable()
      stream.addData(ev(3, 2, user = 1, v = 5.0))
      q.processAllAvailable()
    } finally q.stop()
    // last update per user wins
    val last = spark.table("state_out").collect()
      .map(r => (r.getAs[Long]("user_id"), (r.getAs[Long]("n"), r.getAs[Double]("total"))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
    assert(last(1L) === ((2L, 7.0)))
    assert(last(2L) === ((1L, 3.0)))
  }

  test("file-based streaming source over the events parquet matches the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    // derive the stream schema from the footer and mirror Tables.events'
    // nanos-vs-micros adaptation (the generated ts type has changed
    // across data drops)
    val footer = spark.read.parquet(srcDir.toString).schema
    val raw = spark.readStream.schema(footer).parquet(srcDir.toString)
    val stream =
      if (footer("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val q = StreamingOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("file_src_out")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_src_out").collect().map(_.toSeq).toSet
    val batch = StreamingOps.tumblingCounts(graft.Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("AvailableNow + maxFilesPerTrigger: bounded backfill in rate-limited micro-batches, then stop") {
    import spark.implicits._
    // three separate files -> with maxFilesPerTrigger=1 the backfill must
    // take >= 3 micro-batches; AvailableNow drains everything then stops
    // on its own (the incremental-backfill shape for a 100 TB history).
    val srcDir = java.nio.file.Files.createTempDirectory("graft_backfill").toString
    Seq(ev(1, 0), ev(2, 1)).toDF().coalesce(1).write.parquet(s"$srcDir/f1")
    Seq(ev(3, 2)).toDF().coalesce(1).write.parquet(s"$srcDir/f2")
    Seq(ev(4, 3), ev(5, 4)).toDF().coalesce(1).write.parquet(s"$srcDir/f3")
    val schema = Seq.empty[EventRow].toDF().schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(srcDir)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive) // AvailableNow terminates by itself
    assert(batchSizes.sum === 5L, batchSizes.mkString(","))
    assert(batchSizes.count(_ > 0) >= 3, s"expected >=3 rate-limited batches: $batchSizes")
  }

  test("stream-stream interval join: errors within 5 minutes after a click, per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventRow]
    val errors = MemoryStream[EventRow]
    val joined = clicks.toDF().withWatermark("ts", "10 minutes").alias("c")
      .join(
        errors.toDF().withWatermark("ts", "10 minutes").alias("e"),
        expr("""c.user_id = e.user_id AND
                e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTES"""))
      .select(col("c.event_id").as("click_id"), col("e.event_id").as("error_id"))
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(ev(1, 0, user = 1), ev(2, 30, user = 1), ev(3, 0, user = 2))
      errors.addData(ev(10, 3, user = 1, typ = "error"),   // within 5m of click 1
                     ev(11, 40, user = 1, typ = "error"),  // > 5m after click 2
                     ev(12, 2, user = 2, typ = "error"))   // within 5m of click 3
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("ss_join_out").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("error_id"))).toSet
    assert(pairs === Set((1L, 10L), (3L, 12L)))
  }

  test("foreachBatch sink writes micro-batches to parquet, totals match input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    val stream = MemoryStream[EventRow]
    val q = stream.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventRow], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(out)
      }
      .start()
    try {
      stream.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      stream.addData(ev(3, 2))
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() === 3)
    assert(written.select("batch_id").distinct().count() === 2)
  }

  test("checkpointed query resumes exactly-once after restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val stream = MemoryStream[EventRow]
    def start() = stream.toDS()
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    try {
      stream.addData(ev(1, 0), ev(2, 1))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint; only NEW data lands once
    val q2 = start()
    try {
      stream.addData(ev(3, 2))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("streaming session windows equal the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(ev(1, 0), ev(2, 2), ev(3, 20), ev(4, 21), ev(10, 3, user = 2))
    val stream = MemoryStream[EventRow]
    stream.addData(data)
    val q = StreamingOps.sessionAgg(
      StreamingOps.withWatermark10m(stream.toDF()))
      .writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("session_out").collect().map(_.toSeq).toSet
    val batch = StreamingOps.sessionAgg(data.toDF()).collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.size === 3) // user1: 2 sessions, user2: 1
  }

  test("rate-micro-batch source + ProcessingTime trigger streams deterministic batches") {
    // rate-micro-batch emits exactly rowsPerBatch sequential values per
    // micro-batch (batch n -> values [n*10, n*10+10)), so unlike the
    // wall-clock `rate` source the assertion is deterministic; the
    // ProcessingTime(0) trigger fires batches back-to-back (the
    // always-on-pipeline shape, vs AvailableNow's drain-and-stop).
    val evens = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "10")
      .load()
      .filter(col("value") % 2 === 0)
      .select(col("value"))
    val q = evens.writeStream.format("memory").queryName("rate_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("rate_out").count() < 20 &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()
    val got = spark.table("rate_out").collect().map(_.getLong(0)).sorted.toSeq
    assert(got.length >= 20, s"timed out with only ${got.length} rows")
    // a contiguous prefix of the even integers — nothing skipped, nothing odd
    assert(got === got.indices.map(_ * 2L))
  }

  test("band-index foreachBatch ingest matches the batch path on identical batches") {
    // the streaming front door for q447's persisted index (r13 verdict
    // item 5): the SAME three md5-split batches, once ingested
    // sequentially via BandIndex.ingest and once pushed through
    // MemoryStream into BandIndexStreamIngestor's foreachBatch, must
    // produce identical per-batch readouts AND a content-identical live
    // index — micro-batch slicing is an execution detail, not a semantic.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("batch",
        expr("cast(conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 4"))
      .localCheckpoint(true)
    val rootBatch = java.nio.file.Files.createTempDirectory("graft_bidx_b").toString
    val rootStream = java.nio.file.Files.createTempDirectory("graft_bidx_s").toString
    // batch path
    var st = BandIndex.seed(spark, rootBatch, docs.filter(col("batch") === 0))
    val batchResults = (1 to 3).map { b =>
      val r = BandIndex.ingest(spark, rootBatch, docs.filter(col("batch") === b),
        docs, prev = Some(st))
      st = r.state; r
    }
    // streaming path: same seed, batches arrive as micro-batches
    BandIndex.seed(spark, rootStream, docs.filter(col("batch") === 0))
    val ingestor = new BandIndexStreamIngestor(spark, rootStream,
      docs.select("doc_id", "text"))
    val stream = MemoryStream[DocRow]
    val q = stream.toDF().writeStream.foreachBatch(ingestor.onBatch _).start()
    try {
      (1 to 3).foreach { b =>
        stream.addData(docs.filter(col("batch") === b)
          .select("doc_id", "text").as[DocRow].collect().toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val sres = ingestor.results
    assert(sres.map(r => (r.incoming, r.nearDup, r.novel, r.indexDocs)) ===
      batchResults.map(r => (r.incoming, r.nearDup, r.novel, r.indexDocs)))
    val liveB = BandIndex.read(spark, rootBatch).select("doc_id", "band", "band_sig")
    val liveS = BandIndex.read(spark, rootStream).select("doc_id", "band", "band_sig")
    assert(liveB.exceptAll(liveS).isEmpty && liveS.exceptAll(liveB).isEmpty,
      "stream-built index content differs from the batch-built index")
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, rootBatch)
    BandIndex.deleteRoot(spark, rootStream)
  }

  test("vector-index foreachBatch ingest matches the batch path on identical batches") {
    // the q452 twin of the band-index parity case: the SAME three
    // vbatch-split batches of the planted-twin corpus, once through
    // sequential ingestSigs and once through MemoryStream into
    // VecIndexStreamIngestor — identical per-batch readouts AND a
    // content-identical live index.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = VectorOps.plantedTwinCorpus(spark, "/root/testdata/sf0.001")
      .withColumn("batch", expr(VectorOps.viBatchExpr))
      .localCheckpoint(true)
    val rootBatch = java.nio.file.Files.createTempDirectory("graft_vidx_b").toString
    val rootStream = java.nio.file.Files.createTempDirectory("graft_vidx_s").toString
    var st = BandIndex.seedSigs(spark, rootBatch,
      VectorOps.vecSignatures(corpus.filter(col("batch") === 0)))
    val batchResults = (1 to 3).map { b =>
      val part = corpus.filter(col("batch") === b)
      val r = BandIndex.ingestSigs(spark, rootBatch,
        VectorOps.vecSignatures(part),
        VectorOps.cosineVerify(corpus, 0.9), incoming = part.count(), prev = Some(st))
      st = r.state; r
    }
    BandIndex.seedSigs(spark, rootStream,
      VectorOps.vecSignatures(corpus.filter(col("batch") === 0)))
    val ingestor = new VecIndexStreamIngestor(spark, rootStream,
      corpus.select("vec_id", "embedding"))
    val stream = MemoryStream[VecRow]
    val q = stream.toDF().writeStream.foreachBatch(ingestor.onBatch _).start()
    try {
      (1 to 3).foreach { b =>
        stream.addData(corpus.filter(col("batch") === b)
          .select(col("vec_id"), col("embedding"))
          .as[VecRow].collect().toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val sres = ingestor.results
    assert(sres.map(r => (r.incoming, r.nearDup, r.novel, r.indexDocs)) ===
      batchResults.map(r => (r.incoming, r.nearDup, r.novel, r.indexDocs)))
    val liveB = BandIndex.read(spark, rootBatch).select("doc_id", "band", "band_sig")
    val liveS = BandIndex.read(spark, rootStream).select("doc_id", "band", "band_sig")
    assert(liveB.exceptAll(liveS).isEmpty && liveS.exceptAll(liveB).isEmpty,
      "stream-built vector index content differs from the batch-built index")
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, rootBatch)
    BandIndex.deleteRoot(spark, rootStream)
  }
}

/** Per-user running aggregate state/output for flatMapGroupsWithState. */
case class UserAgg(user_id: Long, n: Long, total: Double)

/** Streaming shapes that no catalog operator uses; the spec drives each
  * under MemoryStream. */
object StreamingSpec {

  /** Stream-static enrichment: join a stream against a (small) dimension.
    * The dimension is broadcast to every micro-batch — no stream-side
    * shuffle, no state; the dimension is re-resolvable per batch so slowly
    * changing dims pick up updates.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Custom streaming state: cumulative per-user count/total, emitted on
    * every update (KeyValueGroupedDataset.flatMapGroupsWithState). State is
    * per-key and checkpointable; state size is O(|users|).
    */
  def runningUserTotals(ds: Dataset[EventRow]): Dataset[UserAgg] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { r => n += 1; tot += r.value }
          val next = UserAgg(uid, n, tot)
          state.update(next)
          Iterator(next)
      }
  }

  /** Incremental corpus dedup, written once for batch AND streaming: drop
    * incoming docs whose content hash already exists in the static corpus
    * (stream-static LEFT ANTI join), then keep only the FIRST arrival of
    * each new hash (stateful dropDuplicates). "First arrival wins" is
    * well-defined only ACROSS micro-batches: two docs with the same new
    * hash in one micro-batch keep a partition-order-dependent row.
    */
  def dedupAgainstCorpus(incoming: DataFrame, corpusHashes: DataFrame): DataFrame =
    incoming.withColumn("h", md5(col("text")))
      .join(corpusHashes, Seq("h"), "left_anti")
      .dropDuplicates("h")
}
