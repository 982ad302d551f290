package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftPlanBridge

/** Library session factory: the configuration a graft deployment needs,
  * in one place (replaces the reference's ad-hoc
  * `SparkSession.builder().master("local[*]")` at Proof.scala:30-33).
  *
  * - AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  *   sort-merge→broadcast conversion) — the main 100 TB safety net.
  * - shuffle partitions sized to the parallelism at hand (cluster deploys
  *   override to ~2-3× total cores; never the 200 default).
  * - UTC session timezone (oracle/date determinism).
  * - nanosAsLong so TIMESTAMP(NANOS) parquet (e.g. the events table) reads
  *   instead of throwing.
  * - graft extensions (cosine_sim et al.) injected session-wide, for
  *   SQL text that users write (library code uses typed Columns).
  * - a generated-code cache of 1000 classes
  *   (`spark.sql.codegen.cache.maxEntries`, a static conf that Spark reads
  *   once per JVM, when it first generates code). The cache maps generated
  *   Java source to its compiled class, so a plan whose code was seen
  *   before skips Janino and reuses JIT-warm bytecode. One curation pass
  *   (q37, q40, q110, q452 at sf0.01) generates 185 distinct bodies, 104 of
  *   them from q452, whose BandIndex generations each inline their own
  *   `ver <= n` and `batch === b` literals. Spark's default of 100 evicts
  *   them before the next pass, which then recompiles 179 classes; 256
  *   already holds a pass, and 1000 leaves room for the larger catalog
  *   operators.
  * - one conf scope, [[withConf]], for builds that need conf of their own
  *   (a narrow shuffle, a state-store width or provider). It plans the
  *   build on a child of the caller made with `cloneSession()`, sets the
  *   conf there only, and rebinds the result into the caller, so the
  *   caller's conf, temp views and streaming query names never change and
  *   concurrent callers cannot see each other's scope. The child is
  *   reused: one per (caller, caller conf, scope conf). Generated-code
  *   reuse is per session — a small aggregate that compiles 0 classes on
  *   a rerun in its own session compiles 5 again in each fresh clone and
  *   runs ~130 ms slower per call (≈270 vs ≈135 ms) — so a clone per
  *   call would recompile every scoped build on every call.
  */
object GraftSession {

  def builder(appName: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // a noisy-neighbor host can stall a small broadcast past the 300s
      // default and fail an otherwise-healthy job (observed once in CI);
      // the collect-side size limits still bound the broadcast itself
      .config("spark.sql.broadcastTimeout", "1800")
      // same failure family: under minutes-long CPU starvation the local
      // executor's heartbeats lapse past spark.network.timeout (120s) and
      // healthy stages get killed — iterative loops (CC, PageRank) with
      // many small jobs are the most exposed
      .config("spark.network.timeout", "600s")

  /** Run `body` on a child session of `spark` that has `conf` set, and
    * return its frame as a frame of `spark`. `body` builds on the child
    * it is given; a caller frame it reads must first go through
    * [[bind]]`(child, df)`. Conf is read at plan time, so only what the
    * body plans (or checkpoints) sees the scope; what the caller later
    * plans over the result uses the caller's conf. Temp views the body
    * creates stay on the child, which every call with the same caller and
    * conf reuses, so concurrent bodies that create one view name share it. */
  def withConf(spark: SparkSession, conf: (String, String)*)(
      body: SparkSession => DataFrame): DataFrame =
    bind(spark, body(child(spark, conf)))

  /** `df`'s analyzed plan as a frame of `session`. */
  def bind(session: SparkSession, df: DataFrame): DataFrame =
    GraftPlanBridge.ofRows(session, df.queryExecution.analyzed)

  /** Children by (caller, caller conf ++ scope conf), least recently used
    * first. A caller whose conf changed gets a new child instead of a
    * stale one. A child keeps its caller reachable, so a weak map would
    * free neither; the bound drops children of old confs and sessions. */
  private val children = new java.util.LinkedHashMap[(SparkSession, Map[String, String]), SparkSession](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(SparkSession, Map[String, String]), SparkSession]): Boolean =
      size() > 32
  }

  private def child(spark: SparkSession, conf: Seq[(String, String)]): SparkSession =
    children.synchronized {
      children.computeIfAbsent((spark, spark.conf.getAll ++ conf), _ => {
        val c = GraftPlanBridge.cloneSession(spark)
        conf.foreach { case (k, v) => c.conf.set(k, v) }
        c
      })
    }

  /** Local development/test session: N threads, matching shuffle width. */
  def localBuilder(cores: Int): SparkSession.Builder =
    builder("graft", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
}
