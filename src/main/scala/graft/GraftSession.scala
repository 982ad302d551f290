package graft

import org.apache.spark.sql.SparkSession

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
  * - graft extensions (cosine_sim et al.) injected session-wide.
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

  /** Local development/test session: N threads, matching shuffle width. */
  def localBuilder(cores: Int): SparkSession.Builder =
    builder("graft", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
}
