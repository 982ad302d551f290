package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Typed event row for the stateful streaming operators. */
case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double)

/** Typed document row for the streaming band-index front door. */
case class DocRow(doc_id: Long, text: String)

/** Streaming front door for the persisted band-signature index (q447 /
  * BandIndex): each micro-batch is ONE incremental ingest — near-dup'd
  * against the PERSISTED index, then upserted as an O(batch) append
  * delta. Generation/census state threads across micro-batches inside
  * this writer, exactly as a production `foreachBatch` maintenance job
  * would hold it; `docStore` is the corpus text store the pipeline
  * maintains alongside the index (candidate verification shingles only
  * candidate ids out of it; the current batch's own text is unioned in
  * so in-flight docs resolve).
  *
  * Attach with `.writeStream.foreachBatch(ingestor.onBatch _)`.
  * StreamingSpec proves stream/batch parity: the same three batches
  * pushed through MemoryStream produce identical per-batch readouts AND
  * a content-identical live index vs the sequential batch path.
  */
final class BandIndexStreamIngestor(spark: SparkSession, root: String,
    docStore: DataFrame) {
  @volatile private var st = BandIndex.readState(spark, root)
  private val store = docStore.select("doc_id", "text")
  private val buf = scala.collection.mutable.ArrayBuffer[BandIndex.IngestResult]()

  /** Per-micro-batch readouts in arrival order. */
  def results: Seq[BandIndex.IngestResult] = buf.synchronized { buf.toSeq }

  def onBatch(batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    val b = batch.toDF()
    if (!b.isEmpty) {
      val r = BandIndex.ingest(b.sparkSession, root, b,
        store.unionByName(b.select("doc_id", "text")), prev = Some(st))
      st = r.state
      buf.synchronized { buf += r; () }
    }
  }
}

/** Typed vector row for the streaming vector-index front door. */
case class VecRow(vec_id: Long, embedding: Seq[Double])

/** Streaming front door for the persisted VECTOR index (q452): each
  * micro-batch of (vec_id, embedding) is one incremental
  * [[BandIndex.ingestSigs]] — hyperplane signatures built per batch,
  * near-dup'd against the PERSISTED index with exact cosine over
  * candidate ids only, then upserted as an O(batch) append delta. Same
  * state-threading contract as [[BandIndexStreamIngestor]]; `vecStore`
  * is the vector store maintained alongside the index (the current
  * batch is unioned in so in-flight ids resolve during verification).
  * StreamingSpec proves stream/batch parity against the sequential
  * ingestSigs path.
  */
final class VecIndexStreamIngestor(spark: SparkSession, root: String,
    vecStore: DataFrame, threshold: Double = 0.9) {
  @volatile private var st = BandIndex.readState(spark, root)
  private val store = vecStore.select("vec_id", "embedding")
  private val buf = scala.collection.mutable.ArrayBuffer[BandIndex.IngestResult]()

  /** Per-micro-batch readouts in arrival order. */
  def results: Seq[BandIndex.IngestResult] = buf.synchronized { buf.toSeq }

  def onBatch(batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    val b = batch.toDF().select("vec_id", "embedding")
    val n = b.count()
    if (n > 0) {
      val all = store.unionByName(b)
      val r = BandIndex.ingestSigs(b.sparkSession, root,
        VectorOps.vecSignatures(b),
        VectorOps.cosineVerify(all, threshold), incoming = n, prev = Some(st))
      st = r.state
      buf.synchronized { buf += r; () }
    }
  }
}

/** Event-time windowing over the `events` table, written once against a
  * DataFrame so the SAME transform runs in batch (DuckDB-oracle-checkable)
  * and under Structured Streaming (StreamingSpec drives it through
  * MemoryStream with watermarks; SURVEY §2.2 Streaming).
  *
  * The reference never executes streaming — spark-streaming is an unused
  * provided dependency (reference pom.xml:33-37) — so this whole module is
  * [EXT] surface.
  */
object StreamingOps {

  private def moneySum(c: org.apache.spark.sql.Column) = Num.moneySum(c)

  /** Tumbling 10-minute windows per event type. Works on batch and
    * streaming input alike; with streaming input callers add
    * `.withWatermark("ts", ...)` before (see [[withWatermark10m]]).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 10-minute windows advancing every 5 minutes (each event lands
    * in 2 windows).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("sum_value"))

  /** Session windows per user, 5-minute inactivity gap. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Exactly-once style dedup on event_id (streaming: state bounded by the
    * watermark; batch: plain distinct-by-key keeping one arbitrary-but-
    * deterministic row since duplicates are exact copies).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  def withWatermark10m(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")

  // -------------------------- batch twins (driver contract) ----------------

  def q60Tumbling(spark: SparkSession, dir: String): DataFrame =
    tumblingCounts(Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))

  val q60Sql: String =
    """SELECT STRFTIME(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  def q61Sliding(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(spark, dir)).orderBy(col("window_start"))

  val q61Sql: String =
    """SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT value, UNNEST(generate_series(
      |    time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
      |    time_bucket(INTERVAL '5 minutes', ts),
      |    INTERVAL '5 minutes')) AS ws
      |  FROM events)
      |GROUP BY ws ORDER BY window_start""".stripMargin

  def q62Session(spark: SparkSession, dir: String): DataFrame =
    sessionAgg(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))

  // Gaps-and-islands twin of session_window: a session breaks when the gap
  // from the previous event of the same user is > 5 minutes; session end is
  // last event + gap (Spark session_window semantics).
  val q62Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL '5 minutes'
      |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |tagged AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM ordered)
      |SELECT user_id,
      |  STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  STRFTIME(MAX(ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM tagged GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Dedup twin: double the input, dedup by event_id, re-aggregate — the
    * oracle sees the single-copy aggregate.
    */
  def q63Dedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    dedupEvents(ev.unionByName(ev))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q63Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q122 — file-stream END-TO-END: unlike q60–q63 (batch twins of the
    * streaming transforms), this entry EXECUTES a real Structured
    * Streaming query. The events table is staged as a multi-file parquet
    * landing zone, `readStream` consumes it in bounded micro-batches
    * (maxFilesPerTrigger under Trigger.AvailableNow — the incremental
    * replay a production backfill runs), the watermarked 15-minute
    * tumbling aggregate maintains real streaming state across those
    * batches, and the memory sink's complete-mode table is the result the
    * DuckDB oracle hash-checks against the equivalent batch SQL.
    *
    * Scale shape: the landing-zone listing is incremental (file-source
    * log), state is bounded by the watermark in append-mode production
    * use (complete mode here only so the finite replay surfaces every
    * window for the oracle), and the aggregate shuffles on (window,
    * event_type) exactly like its batch twin.
    */
  /** Stage the events landing zone ONCE per (process, dir) — q122 and
    * q157 replay the same immutable zone, so best-of-N bench runs time the
    * streaming query, not repeated staging I/O (the round-4 ~8s/e2e-entry
    * overhead was mostly this re-write). Fixed slot, overwrite mode.
    */
  private def eventsZone(spark: SparkSession, dir: String): String =
    Staging.ensure("events_zone", dir) { path =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartition(4) // ≥4 landing files → several micro-batches
        .write.mode("overwrite").parquet(path)
    }

  /** A bounded state-partition count for a streaming query.
    * `spark.sql.shuffle.partitions` pins the STATE STORE partition count
    * for the life of a streaming checkpoint — it should be sized to
    * per-partition state volume, not to the session's batch-CPU setting:
    * every micro-batch pays a per-store open/commit, so 32 stores × N
    * batches × 2 join sides on a small-state topology is pure overhead
    * (measured ~40% of q157's wall time at local[32]).
    */
  private[graft] def statePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** No trailing no-data micro-batch. That batch exists to let the
    * advanced watermark evict state and emit eviction-driven results
    * (outer-join nulls, timer fires) — queries whose output is
    * match-driven (inner/semi joins: every row emits in the data batch
    * where its match lands) pay it for nothing, and on a finite
    * AvailableNow replay it is a whole extra state-store open/commit
    * cycle. q211 (outer) and the timer topologies MUST NOT use this.
    */
  private val noNoDataBatch = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** The RocksDB state store (transformWithState requires it) — shared by
    * q184, q231, q252 and StreamStateSpec. */
  private[graft] val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Memory-sink names: one child session serves every drain with the
    * same conf, so each drain needs a name of its own. */
  private val drains = new java.util.concurrent.atomic.AtomicLong()

  /** Run the stream `build` makes on a child session with `conf` set (see
    * [[GraftSession.withConf]]) to completion under AvailableNow, in
    * output mode `mode` into a memory sink, and return the sink's rows as
    * a frame of `spark`. */
  private def drain(spark: SparkSession, mode: String, conf: (String, String)*)(
      build: SparkSession => DataFrame): DataFrame =
    GraftSession.withConf(spark, conf: _*) { child =>
      val name = s"graft_drain_${drains.incrementAndGet()}"
      build(child).writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start().awaitTermination()
      // the frame is analyzed as it is made and its plan holds the sink,
      // so the rows outlive the view
      val rows = child.table(name)
      child.catalog.dropTempView(name)
      rows
    }

  def q122FileStream(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    // 4 state partitions (round-11): complete-mode window agg commits one
    // store per partition per batch; the (window, type) grid is tiny
    drain(spark, "complete", statePartitions(4)) { s =>
      s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    }.orderBy(col("window_start"), col("event_type"))
  }

  val q122Sql: String =
    """SELECT STRFTIME(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** q157 — STREAM-STREAM interval join end-to-end: clicks and purchases
    * are consumed as two watermarked file streams off the same staged
    * landing zone and interval-joined (purchase within 30 minutes after a
    * click, same user) in real micro-batches. INNER stream-stream joins
    * emit each match as it is found (the watermark governs state
    * EVICTION, not emission), so the finite AvailableNow replay yields
    * the exact batch-join match set regardless of file slicing — which is
    * precisely what the DuckDB batch oracle checks. The joined pairs are
    * then compacted per user in a follow-up batch aggregate over the
    * sink table (the streaming part under test is the join state).
    *
    * Scale: both sides shuffle on user_id once; state per side is bounded
    * by the watermark + the 30-minute join range.
    */
  /** One watermarked side of the click→purchase interval join, off an
    * arbitrary staged zone — shared by the catalog entries (hash zone,
    * 2 files/trigger) and StreamStateSpec (time-ordered many-file zone,
    * the shape of the SURVEY §8.10 decade runs).
    */
  private[graft] def sideStream(spark: SparkSession, src: String, t: String,
      filesPerTrigger: Int): DataFrame = {
    val schema = spark.read.parquet(src).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .filter(col("event_type") === t)
      .withWatermark("ts", "10 minutes")
  }

  /** The q157/q211 stream-stream interval-join topology (un-sunk). */
  private[graft] def intervalJoined(spark: SparkSession, src: String,
      joinType: String, filesPerTrigger: Int): DataFrame =
    sideStream(spark, src, "click", filesPerTrigger).alias("c")
      .join(sideStream(spark, src, "purchase", filesPerTrigger).alias("p"),
        expr("""c.user_id = p.user_id AND
                p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES"""),
        joinType)
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"))

  def q157StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir) // shared with q122: same immutable zone
    // one data micro-batch (trigger covers the whole zone), no trailing
    // no-data batch: inner matches are emission-order-independent and the
    // per-batch state-store open/commit cycle was ~40% of wall time at 2
    // files/trigger (round-9 verdict task 3).
    // 4 state partitions: a stream-stream join opens/commits 4 stores per
    // partition per side per batch — at this topology's state volume
    // (≤ tens of MB) fewer, fatter stores win; a cluster run sizes this
    // to per-partition state, not cores (see statePartitions)
    drain(spark, "append", statePartitions(4), noNoDataBatch) { s =>
      intervalJoined(s, src, "inner", 16)
    }
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("click_id")).as("n_clicks"))
      .orderBy(col("user_id"))
  }

  val q157Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT c.event_id) AS n_clicks
      |FROM c JOIN p ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  // --------------------------------------------------------------------------
  // q284 — STREAM-STREAM LEFT SEMI JOIN: which clicks converted (a
  // matching purchase within 30 minutes), emitting each converting click
  // ONCE — the existence-check join q157 (inner, one row per click×
  // purchase pair) and q211 (outer) do not cover. Semi is the shape
  // attribution feeds want: no pair fan-out, no dedup afterwards.
  //
  // Scale: same watermark-bounded state as q157 — both sides buffer only
  // the 30-minute interval behind the user_id shuffle; the semi join
  // additionally drops its probe-side buffer row as soon as one match
  // confirms. Result aggregated per user for a bounded output.
  def q284StreamSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    // see q157 on the 4-partition / no-no-data-batch choices
    drain(spark, "append", statePartitions(4), noNoDataBatch) { s =>
      sideStream(s, src, "click", 16).alias("c")
        .join(sideStream(s, src, "purchase", 16).alias("p"),
          expr("""c.user_id = p.user_id AND
                  p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES"""),
          "left_semi")
        .select(col("event_id").as("click_id"), col("user_id"))
    }
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_converting_clicks"))
      .orderBy(col("user_id"))
  }

  val q284Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT user_id, COUNT(*) AS n_converting_clicks
      |FROM c WHERE EXISTS (
      |  SELECT 1 FROM p WHERE p.user_id = c.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q184 — transformWithState END-TO-END (the Spark 4 arbitrary-stateful
    * API succeeding flatMapGroupsWithState): per-user running totals kept
    * in a typed ValueState by a [[UserTotalsProcessor]], executed over the
    * staged events landing zone in real micro-batches on the RocksDB state
    * store (transformWithState requires it; set on the child session the
    * query runs on). Money rides the state as exact cent longs — every update is
    * integer arithmetic, so the emitted totals are exact regardless of
    * micro-batch slicing. Update-mode emissions land in the memory sink
    * once per (user, batch); the final per-user state is selected with a
    * max_by on the strictly-increasing event count — no reliance on sink
    * arrival order.
    *
    * Scale: state is O(|users|) fixed-size values behind the user_id
    * shuffle — the canonical shape for a 100 TB/day per-entity running
    * aggregate; RocksDB spills it off-heap and checkpoints incrementally.
    */
  /** The q184 per-user running-totals transformWithState topology
    * (un-sunk; its session must run the [[rocksDb]] state store).
    */
  private[graft] def userTotalsUpdates(spark: SparkSession, src: String,
      filesPerTrigger: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val schema = spark.read.parquet(src).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
      // rows with a NULL value or NULL user_id drop at the typed
      // boundary (both are primitives in EventRow; a null would kill
      // the stream with NOT_NULL_ASSERT_VIOLATION — at scale, unparsed
      // payloads and keyless events are routine rows, not reasons to
      // fail a stateful pipeline; a keyless event also has no state
      // cell to land in). event_type stays nullable end-to-end. The
      // drop is mirrored in the oracle (WHERE value IS NOT NULL AND
      // user_id IS NOT NULL) so Spark and DuckDB count the same rows.
      .na.drop(Seq("value", "user_id"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  def q184TransformWithState(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    // 4 state partitions (round-11, q157's lesson): RocksDB opens and
    // commits one store per partition per batch — at O(|users|) value
    // state, fewer fatter stores win; results are slicing-independent
    // (the final max_by state is the same under any batch count)
    drain(spark, "update", rocksDb, statePartitions(4)) { s =>
      userTotalsUpdates(s, src, 2)
    }
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n"),
        max_by(col("cents"), col("n")).as("cents"))
      .select(col("user_id"), col("n"),
        (col("cents") / 100.0).as("total"))
      .orderBy(col("user_id"))
  }

  val q184Sql: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q188 — dropDuplicatesWithinWatermark END-TO-END (the Spark 3.5+
    * bounded-state streaming dedup): the landing zone is consumed TWICE
    * (two file streams unioned — every event arrives as a genuine
    * duplicate), watermarked, and deduplicated on event_id with state
    * that — unlike plain dropDuplicates — is EVICTED once the watermark
    * passes an id's first arrival. The deduped append stream lands in the
    * memory sink and is batch-aggregated per type (q157's sink-then-
    * aggregate pattern); the oracle sees the single-copy totals.
    *
    * Scale: this is the dedup to run forever on a 100 TB/day feed —
    * q63's dropDuplicates keeps every key seen since the epoch, this
    * keeps a watermark-wide sliding set behind the same event_id shuffle.
    */
  /** The q188 double-feed dedup-within-watermark topology (un-sunk). */
  private[graft] def dedupWithinWmStream(spark: SparkSession, src: String,
      filesPerTrigger: Int): DataFrame = {
    val schema = spark.read.parquet(src).schema
    def feed() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
    feed().unionByName(feed())
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
  }

  def q188DedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    // 4 state partitions + no trailing no-data batch (round-11, q157's
    // lesson): dedup emission is ARRIVAL-driven — every surviving row
    // appends in the data batch it lands in; the no-data batch exists
    // only to evict expired dedup state, which changes no output row
    drain(spark, "append", statePartitions(4), noNoDataBatch) { s =>
      dedupWithinWmStream(s, src, 2)
    }
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q188Sql: String = q63Sql

  /** q226 — CHAINED MULTI-STATEFUL streaming (Spark 3.5+/4.x): ONE query
    * runs dropDuplicatesWithinWatermark(event_id) FOLLOWED BY a tumbling
    * 1-day event-time aggregation, both stateful, in append mode — the
    * "dedup the at-least-once feed, then window it" production topology
    * that previously needed two jobs with an intermediate landing zone.
    * The landing zone is consumed twice (q188's double feed) so every
    * event genuinely arrives duplicated; the dedup stage must remove the
    * copies BEFORE the window counts them.
    *
    * Emission semantics pinned by the oracle: in append mode a window row
    * is emitted only once the watermark (max event time − 10 min, global
    * across the run) passes the WINDOW END — so the final partial day
    * stays in state and OUT of the result at drain. Dedup state is
    * watermark-evicted; window state is one row per open (window, type).
    *
    * Scale: dedup shuffles on event_id, the window agg on (window, type)
    * — two bounded-state operators behind map-side partials; state for
    * each tracks the watermark span, never the stream length (§8.10).
    */
  private[graft] def dedupThenWindowStream(spark: SparkSession, src: String,
      filesPerTrigger: Int): DataFrame = {
    val schema = spark.read.parquet(src).schema
    def feed() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
    feed().unionByName(feed())
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  def q226DedupThenWindow(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    // 4 state partitions (round-11): TWO stateful operators each commit
    // one store per partition per batch here; window emission is
    // watermark-driven, so the trailing no-data batch stays (it flushes
    // every window the final watermark passed)
    drain(spark, "append", statePartitions(4)) { s =>
      dedupThenWindowStream(s, src, 2)
    }.orderBy(col("window_start"), col("event_type"))
  }

  val q226Sql: String =
    """SELECT STRFTIME(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day'
      |  <= (SELECT MAX(ts) - INTERVAL '10 minutes' FROM events)
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** q230 — CHECKPOINT RESTART / EXACTLY-ONCE ACROSS RUNS: the operations
    * contract the whole streaming family depends on, exercised end-to-end.
    * Half the landing files are processed by a first AvailableNow run
    * writing to a parquet file sink under a checkpoint; the remaining
    * files land; a SECOND run with the SAME checkpoint+sink processes
    * ONLY the new files (the file-source offset log) and commits them
    * atomically (the sink's _spark_metadata log). If restart recovery
    * double-processed or dropped anything, the per-type totals would
    * diverge from the batch oracle — the hash compare IS the
    * exactly-once proof.
    *
    * Scale: this is the daily reality of a 100 TB/day feed — jobs
    * restart; correctness must come from the checkpoint contract, not
    * from "the job never dies". Fresh per-invocation work dirs keep the
    * entry idempotent under bench/verify re-runs.
    */
  def q230CheckpointRestart(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Path}
    val zoneAll = eventsZone(spark, dir)
    val work = Files.createTempDirectory("graft_q230").toString
    val zone = s"$work/zone"; val cp = s"$work/cp"; val sink = s"$work/sink"
    Files.createDirectories(Path.of(zone))
    val schema = spark.read.parquet(zoneAll).schema
    val parts = new java.io.File(zoneAll).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val (first, rest) = parts.splitAt(parts.length / 2)
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(zone)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    first.foreach(f => Files.copy(f.toPath, Path.of(zone, f.getName)))
    drain() // run 1: checkpoints the first half
    rest.foreach(f => Files.copy(f.toPath, Path.of(zone, f.getName)))
    drain() // run 2, same checkpoint: must pick up ONLY the new files
    spark.read.parquet(sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q230Sql: String = q63Sql

  /** q231 — TIMER-BASED SESSIONIZATION via transformWithState EVENT-TIME
    * TIMERS (the Spark-4 stateful API surface q184's ValueState does not
    * touch): per-user sessions close either when a successor event
    * arrives beyond the 30-minute gap (emitted inline from
    * handleInputRows) or when the event-time watermark passes
    * session_end + gap (emitted from handleExpiredTimer) — the custom-
    * state twin of q62's built-in session_window, needed the moment
    * session logic outgrows the built-in (per-session caps, inactivity
    * depending on event type, etc.).
    *
    * The landing zone is TIME-ORDERED (range-partitioned on ts with
    * pinned mod-times — §8.10's probe-zone shape): batches advance event
    * time monotonically, so a fired timer can never be contradicted by a
    * later batch (later files hold later timestamps only). The oracle
    * states the closure rule: every non-final island per user, plus the
    * final island iff end + 30 min ≤ final watermark (max ts − 10 min).
    *
    * Scale: state is ONE ValueState row + one timer per active user;
    * timers are watermark-evicted. The stream shuffles once on user_id.
    */
  /** The q231 timer-session topology (un-sunk): watermark → groupByKey →
    * transformWithState with event-time timers. Its session must run the
    * [[rocksDb]] state store. Shared with StreamStateSpec so the eviction test
    * and the catalog run the same code.
    */
  private[graft] def timerSessionStream(spark: SparkSession, src: String,
      filesPerTrigger: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val schema = spark.read.parquet(src).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
      .withWatermark("ts", "10 minutes")
      // rows with a NULL value or NULL user_id drop at the typed
      // boundary (both are primitives in EventRow; a null would kill
      // the stream with NOT_NULL_ASSERT_VIOLATION — at scale, unparsed
      // payloads and keyless events are routine rows, not reasons to
      // fail a stateful pipeline; a keyless event also has no state
      // cell to land in). event_type stays nullable end-to-end. The
      // drop is mirrored in the oracle (WHERE value IS NOT NULL AND
      // user_id IS NOT NULL) so Spark and DuckDB count the same rows.
      .na.drop(Seq("value", "user_id"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(1800L * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  def q231TimerSessions(spark: SparkSession, dir: String): DataFrame = {
    val src = Staging.ensure("events_zone_ordered", dir) { path =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(4, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(path)
      val parts = new java.io.File(path).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      val base = System.currentTimeMillis() - (parts.length + 10) * 1000L
      parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 1000L) }
    }
    // 2 files/trigger over the 4 time-ordered range files: two real
    // watermark advances still exercise mid-stream timer fires, at half
    // the RocksDB store-commit cycles; the emitted session set depends
    // only on the FINAL watermark (range files don't overlap in ts, so
    // no slicing-dependent late drops). Timers NEED the trailing
    // no-data batch — kept.
    drain(spark, "append", rocksDb, statePartitions(4)) { s =>
      timerSessionStream(s, src, 2)
    }
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
        (sum(col("cents")) / 100.0).as("total_value"))
      .orderBy(col("user_id"))
  }

  val q231Sql: String =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events
      |    WHERE value IS NOT NULL AND user_id IS NOT NULL),
      |f AS (
      |  SELECT user_id, us, cents,
      |    CASE WHEN us - LAG(us) OVER w > 1800000000
      |         OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |isl AS (
      |  SELECT user_id, us, cents,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f),
      |sess AS (
      |  SELECT user_id, sid, MAX(us) AS end_us, COUNT(*) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM isl GROUP BY user_id, sid),
      |wm AS (SELECT MAX(epoch_us(ts)) - 600000000 AS w
      |  FROM events
      |    WHERE value IS NOT NULL AND user_id IS NOT NULL),
      |emitted AS (
      |  SELECT s.* FROM sess s CROSS JOIN wm
      |  WHERE s.sid < (SELECT MAX(sid) FROM sess x WHERE x.user_id = s.user_id)
      |     OR s.end_us + 1800000000 <= wm.w)
      |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
      |FROM emitted GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q190 — foreachBatch INCREMENTAL UPSERT: the streaming-maintenance
    * pattern for sinks without native streaming support. Each micro-batch
    * is collapsed to its per-user latest row (argmax on the unique
    * (ts, event_id) order), merged with the current materialized state,
    * and written to a NEW parquet version under a fixed per-(process,dir)
    * slot — write-new-then-advance, never overwrite-in-place of a table
    * being read, so a crashed batch can't corrupt the current version.
    * The final version is the result; the oracle is the batch
    * latest-row-per-user query (argmax is a commutative monoid under a
    * total order, so incremental merge ≡ global argmax for ANY batch
    * slicing).
    *
    * Scale: per batch the expensive aggregate runs on the BATCH only;
    * the merge shuffles |users| state rows, not history. The version dirs
    * are bounded by the batch count and reclaimed at the next call (and
    * by `clean`).
    */
  def q190ForeachBatchUpsert(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    val schema = spark.read.parquet(src).schema
    val base = Staging.pathFor("q190_target", dir)
    // reclaim the slot from any previous run in this or an earlier process
    val baseP = java.nio.file.Paths.get(base)
    if (java.nio.file.Files.exists(baseP)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(baseP).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
    def latestPerUser(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("value")),
        struct(col("ts"), col("event_id"))).as("s"))
      .select(col("user_id"), col("s.ts").as("ts"),
        col("s.event_id").as("event_id"), col("s.value").as("value"))
    @volatile var version = -1
    GraftSession.withConf(spark, statePartitions(8)) { child =>
      child.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
        .writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val fresh = latestPerUser(batch.toDF())
          val merged =
            if (version < 0) fresh
            else latestPerUser(
              batch.sparkSession.read.parquet(s"$base/v$version").unionByName(fresh))
          merged.write.mode("overwrite").parquet(s"$base/v${version + 1}")
          version += 1
          ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      child.read.parquet(s"$base/v$version")
    }
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  val q190Sql: String =
    """SELECT user_id, event_id AS last_event_id, value AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------------
  // q211 — stream-stream LEFT OUTER interval join e2e: q157's click→
  // purchase attribution, but clicks with NO purchase in their 30-minute
  // window are ALSO emitted (purchase_id null) — the semantics every
  // "sessions without conversion" stream needs. The subtlety this entry
  // pins: a null row can only be emitted once the GLOBAL watermark (min
  // over both streams' max-event-time, minus the 10-minute delay) closes
  // the click's join window; clicks newer than wm − 30min stay in state
  // when the AvailableNow run drains, and are NOT in the result. The
  // batch oracle states that closure rule explicitly — matched pairs are
  // watermark-independent, unmatched clicks appear iff
  // click.ts + 30min < min(max_click_ts, max_purchase_ts) − 10min.
  //
  // Scale: identical to q157 (shuffle per side on user_id,
  // watermark-bounded state) — the outer semantics add no state beyond
  // the left rows the inner join already buffers.
  def q211StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    // single data batch like q157: the null-closure rule depends only on
    // the FINAL global watermark (slicing-independent), and the final
    // no-data batch still runs the eviction pass that emits them.
    // 2 state partitions (vs the inner/semi 4): the outer join is the one
    // variant that must run the trailing no-data batch, so it pays 2
    // batches x 4 stores x partitions of open/commit; at this state
    // volume narrower is faster (2.6 -> 2.35 s). Its floor is the second
    // batch itself - eviction-driven null emission is the semantics.
    drain(spark, "append", statePartitions(2)) { s =>
      intervalJoined(s, src, "leftOuter", 16)
    }
      .groupBy(col("user_id"))
      .agg(count(col("purchase_id")).as("n_matched"),
        count_if(col("purchase_id").isNull).as("n_unmatched_closed"))
      .orderBy(col("user_id"))
  }

  val q211Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
      |    - INTERVAL '10 minutes' AS w),
      |matched AS (
      |  SELECT c.user_id, COUNT(*) AS n_matched
      |  FROM c JOIN p ON c.user_id = p.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
      |  GROUP BY c.user_id),
      |unmatched AS (
      |  SELECT c.user_id, COUNT(*) AS n_unmatched
      |  FROM c, wm
      |  WHERE c.ts + INTERVAL '30 minutes' < wm.w
      |    AND NOT EXISTS (
      |      SELECT 1 FROM p WHERE p.user_id = c.user_id
      |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes')
      |  GROUP BY c.user_id)
      |SELECT COALESCE(m.user_id, u.user_id) AS user_id,
      |  CAST(COALESCE(n_matched, 0) AS BIGINT) AS n_matched,
      |  CAST(COALESCE(n_unmatched, 0) AS BIGINT) AS n_unmatched_closed
      |FROM matched m FULL OUTER JOIN unmatched u ON m.user_id = u.user_id
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------------
  // q215 — STREAM-STATIC ENRICHMENT JOIN e2e: the most common production
  // streaming shape — a fact stream joined to a dimension SNAPSHOT (static
  // DataFrame) — is STATELESS: every micro-batch plans a fresh broadcast
  // hash join against the dim, with no watermark and no state store (the
  // static side is re-resolvable per batch, which is also how dim updates
  // between batches become visible). This entry pins that: the events
  // landing zone streams in bounded micro-batches, each joined to the
  // customer dim via an explicit broadcast, appended to the sink, then
  // batch-aggregated per (segment, type) for the oracle (q157's
  // sink-then-aggregate pattern).
  //
  // Scale: the fact stream never shuffles — enrichment is map-side against
  // the broadcast dim; only the small post-hoc aggregate shuffles. A dim
  // too big to broadcast would make this a per-batch shuffle join — that
  // regime is q123/q194's territory (salting / bloom-prune).
  def q215StreamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    drain(spark, "append", statePartitions(8)) { s =>
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
        .select(col("user_id"), col("event_type"), col("value"))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
    }
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  val q215Sql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin

  // --------------------------------------------------------------------------
  // q252 — STREAMING TOP-K LEADERBOARD via transformWithState MAP STATE:
  // the third Spark-4 state primitive (q184 = ValueState, q231 = event
  // timers, this = MapState). Each user's state is a map holding ONLY the
  // current top-3 distinct cent values — inserts prune below rank 3
  // every batch, so per-key state is O(k) forever, the invariant that
  // makes a leaderboard runnable on an unbounded 100 TB feed (a naive
  // collect-then-rank keeps the full value history). Update-mode
  // emissions are monotone in (v1, v2, v3), so the memory-sink reduce
  // max(struct(…)) recovers exactly the final state per user; the oracle
  // is the batch top-3-distinct per user.
  /** The q252 MapState top-k topology (un-sunk; StreamStateSpec replays
    * it; its decade run is SURVEY §8.16). */
  private[graft] def topValuesUpdates(spark: SparkSession, src: String,
      filesPerTrigger: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val schema = spark.read.parquet(src).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
      // rows with a NULL value or NULL user_id drop at the typed
      // boundary (both are primitives in EventRow; a null would kill
      // the stream with NOT_NULL_ASSERT_VIOLATION — at scale, unparsed
      // payloads and keyless events are routine rows, not reasons to
      // fail a stateful pipeline; a keyless event also has no state
      // cell to land in). event_type stays nullable end-to-end. The
      // drop is mirrored in the oracle (WHERE value IS NOT NULL AND
      // user_id IS NOT NULL) so Spark and DuckDB count the same rows.
      .na.drop(Seq("value", "user_id"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new TopValuesProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  def q252MapStateTopk(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsZone(spark, dir)
    drain(spark, "update", rocksDb, statePartitions(8)) { s =>
      topValuesUpdates(s, src, 2)
    }
      .groupBy(col("user_id"))
      .agg(max(struct(col("v1"), col("v2"), col("v3"))).as("m"))
      .select(col("user_id"),
        nullif(col("m.v1"), lit(-1L)).as("top1"),
        nullif(col("m.v2"), lit(-1L)).as("top2"),
        nullif(col("m.v3"), lit(-1L)).as("top3"))
      .orderBy(col("user_id"))
  }

  val q252Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events
      |    WHERE value IS NOT NULL AND user_id IS NOT NULL),
      |l AS (
      |  SELECT user_id, list_sort(list(cents), 'DESC') AS ls FROM d GROUP BY 1)
      |SELECT user_id, ls[1] AS top1, ls[2] AS top2, ls[3] AS top3
      |FROM l ORDER BY user_id""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q60_tumbling_window", q60Tumbling _, Some(q60Sql)),
    ("q252_mapstate_topk", q252MapStateTopk _, Some(q252Sql)),
    ("q215_stream_static_enrich", q215StreamStaticEnrich _, Some(q215Sql)),
    ("q211_stream_outer_join", q211StreamOuterJoin _, Some(q211Sql)),
    ("q61_sliding_window", q61Sliding _, Some(q61Sql)),
    ("q62_session_window", q62Session _, Some(q62Sql)),
    ("q63_stream_dedup", q63Dedup _, Some(q63Sql)),
    ("q122_file_stream", q122FileStream _, Some(q122Sql)),
    ("q157_stream_join", q157StreamJoin _, Some(q157Sql)),
    ("q284_stream_semi_join", q284StreamSemiJoin _, Some(q284Sql)),
    ("q184_transform_with_state", q184TransformWithState _, Some(q184Sql)),
    ("q188_dedup_within_watermark", q188DedupWithinWatermark _, Some(q188Sql)),
    ("q226_dedup_then_window", q226DedupThenWindow _, Some(q226Sql)),
    ("q230_checkpoint_restart", q230CheckpointRestart _, Some(q230Sql)),
    ("q231_timer_sessions", q231TimerSessions _, Some(q231Sql)),
    ("q190_foreach_batch_upsert", q190ForeachBatchUpsert _, Some(q190Sql)))
}

/** Per-user running (count, cent-exact total) update row. */
case class UserTotals(user_id: Long, n: Long, cents: Long)

/** One closed (or in-flight) session: bounds in exact epoch micros. */
case class SessionAcc(user_id: Long, start_us: Long, end_us: Long,
                      n: Long, cents: Long)

/** transformWithState processor with EVENT-TIME TIMERS (q231): per-user
  * session accumulation; a session emits either inline when a successor
  * row arrives beyond the gap, or from handleExpiredTimer once the
  * watermark passes end + gap. Within a batch, rows are sorted by event
  * time (the per-key iterator carries no order guarantee); session
  * composition depends only on ts gaps, so equal-ts ties cannot change
  * the result. Timer expiry is guarded against staleness: it only closes
  * the state session whose close time it matches (an extension re-arms a
  * later timer; the stale one then no-ops).
  */
class SessionTimerProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, SessionAcc] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessionAcc]("session",
      org.apache.spark.sql.Encoders.product[SessionAcc], TTLConfig.NONE)

  private def micros(ts: java.sql.Timestamp): Long =
    (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L

  private def closeTimerMs(s: SessionAcc): Long =
    (s.end_us + gapUs + 999L) / 1000L // ceil to ms: never fire early

  override def handleInputRows(key: Long, rows: Iterator[EventRow],
                               timerValues: TimerValues): Iterator[SessionAcc] = {
    val sorted = rows.toSeq.sortBy(r => micros(r.ts))
    var closed = List.empty[SessionAcc]
    var cur = Option(state.get())
    val prevTimer = cur.map(closeTimerMs)
    sorted.foreach { r =>
      val us = micros(r.ts)
      val cents = math.round(r.value * 100)
      cur match {
        case Some(s) if us - s.end_us <= gapUs =>
          cur = Some(s.copy(end_us = math.max(s.end_us, us),
            n = s.n + 1, cents = s.cents + cents))
        case Some(s) =>
          closed ::= s
          cur = Some(SessionAcc(key, us, us, 1L, cents))
        case None =>
          cur = Some(SessionAcc(key, us, us, 1L, cents))
      }
    }
    cur.foreach { s =>
      state.update(s)
      val t = closeTimerMs(s)
      if (!prevTimer.contains(t)) {
        prevTimer.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(t)
      }
    }
    closed.reverse.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionAcc] = {
    val s = state.get()
    if (s != null && expiredTimerInfo.getExpiryTimeInMs() >= closeTimerMs(s)) {
      state.clear()
      Iterator.single(s)
    } else Iterator.empty
  }
}

/** transformWithState processor: one ValueState[UserTotals] per user,
  * updated per micro-batch and emitted on every update (q184). Values on
  * the .01 grid become exact cent longs (`math.round(v * 100)`), so state
  * updates commute with micro-batch slicing.
  */
class UserTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, UserTotals] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[UserTotals] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserTotals]("totals",
      org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EventRow],
                               timerValues: TimerValues): Iterator[UserTotals] = {
    val prev = Option(state.get()).getOrElse(UserTotals(key, 0L, 0L))
    var n = prev.n; var cents = prev.cents
    rows.foreach { r => n += 1; cents += math.round(r.value * 100) }
    val next = UserTotals(key, n, cents)
    state.update(next)
    Iterator.single(next)
  }
}

/** Per-user top-3 distinct cent values (−1 sentinel pads short lists). */
case class TopValues(user_id: Long, v1: Long, v2: Long, v3: Long)

/** transformWithState processor exercising MAP state (q252): one
  * MapState[cents → unit] per user holds the CURRENT top-3 distinct
  * values — inserts then prunes everything below rank 3, so state is
  * O(k) per key no matter how long the stream runs. Emitted rows are
  * monotonically non-decreasing in (v1, v2, v3), which is what lets the
  * sink reduce with max(struct(..)) to the final leaderboard.
  */
class TopValuesProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, TopValues] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

  @transient private var state: MapState[Long, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getMapState[Long, Boolean]("topv",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EventRow],
                               timerValues: TimerValues): Iterator[TopValues] = {
    rows.foreach { r => state.updateValue(math.round(r.value * 100), true) }
    val sorted = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Long]
      val it = state.keys()
      while (it.hasNext) b += it.next()
      b.sortBy(-_).toSeq
    }
    sorted.drop(3).foreach(state.removeKey)
    val top = sorted.take(3).padTo(3, -1L)
    Iterator.single(TopValues(key, top(0), top(1), top(2)))
  }
}
