package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries run in sorted name order after an untimed warmup pass (JVM/JIT +
  * parquet footer caches otherwise land on whichever query runs first and
  * make per-query numbers non-reproducible).
  */
object Bench {
  // JSON numbers must use '.' regardless of JVM default locale — f"$v%.4f"
  // under a comma-decimal locale emits invalid JSON (the parsed:null class)
  private def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, "%." + digits + "f", Double.box(v))

  def main(args: Array[String]): Unit = {
    // optional dev-only name-prefix filter, like Verify's (driver passes
    // no args and always times the full catalog)
    val prefixes = args.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the library session (extensions, AQE, nanosAsLong, UTC, timeout
    // insurance) — benching under a bespoke session diverged from the
    // library config in round 5 and failed every events-table query
    val spark = GraftSession.localBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: exercise scan/shuffle/window/join/codegen paths across every
    // table family untimed (JIT + parquet footer caches otherwise bill the
    // first query that touches each path)
    try {
      SparkEntry.queries("q01_agg")(spark, sfDir).count()
      SparkEntry.queries("q07_topk_per_group")(spark, sfDir).count()
      SparkEntry.queries("q33_simhash")(spark, sfDir).count()
      SparkEntry.queries("q40_cosine_topk")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    // best-of-2 per query: a fresh JVM's first execution of each plan pays
    // JIT + codegen compilation, and the host VM adds noisy-neighbor
    // variance (measured total swinging 53→135s run to run); the min
    // reflects the steady-state cost of the plan itself. ALL runs are kept
    // and emitted ("runs") so the artifact itself distinguishes a plan
    // regression (every run slow) from host noise (min fine, max inflated)
    // without prose or post-processing.
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        prefixes.isEmpty || prefixes.exists(name.startsWith) }
      .map { case (name, fn) =>
      // classes Janino compiled during each timed run: a later run that
      // still compiles thrashes the codegen cache or inlines a per-call
      // literal into generated code
      val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
      def once(): Double = {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            // a failing query must not masquerade as a fast one
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        // free the run's localCheckpoint blocks (untimed): without this
        // sweep a full 440-query run accumulates hundreds of pinned RDDs
        // in the shared JVM and unrelated queries inflate 3-20x under the
        // GC pressure (the round-11 q70 0.55s-isolated / 1.94s-in-run gap)
        graft.ops.Checkpoints.releaseAll(spark)
        if (ok) dt else -1.0
      }
      val (a, b) = (once(), once())
      val runs =
        if (a < 0 || b < 0) Seq(a, b).filter(_ >= 0)
        // slow queries get a third run: they dominate the total, so host-VM
        // noise on them moves the headline number the most
        else if (math.min(a, b) > 1.0) Seq(a, b, once()).filter(_ >= 0)
        else Seq(a, b)
      val failed = a < 0 || b < 0 || runs.size < 2
      name -> (if (failed) -1.0 else runs.min, runs, compiles.toSeq)
    }
    val results = timed.map { case (name, (best, _, _)) => name -> best }
    val runsJson = timed.collect { case (name, (best, runs, _)) if best >= 0 =>
      "\"" + name + "\":" + runs.map(num(_, 4)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val compilesJson = timed.collect { case (name, (_, _, cs)) if cs.exists(_ > 0) =>
      "\"" + name + "\":" + cs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // failures are reported by NAME, never as numeric sentinels mixed
    // into the timing map (a -1.0 in the map poisons totals and parsers)
    val ok = results.filter(_._2 >= 0)
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + num(v, 4) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val totalR = num(total, 3)
    // Full per-query detail first (humans / logs). The driver only keeps
    // the last ~2000 chars of stdout, which truncated this single long
    // line in rounds 1-2 (BENCH parsed:null) — so the parseable summary
    // goes LAST and stays short: total + the 5 slowest queries.
    println(s"""{"metric":"detail","value":$totalR,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}""")
    val slow = ok.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + num(v, 3) }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":$totalR,"unit":"sec","n_queries":${results.size},"n_failed":${results.size - ok.size},"queries":$slow,"sf":"$sfDir"}"""
    println(summary)
    // stdout travels through the driver's tail truncation — a plain file
    // is the mangling-proof channel, so it carries the COMPLETE per-query
    // map plus the explicit failed-query list
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      // "queries" stays the per-query MIN (what benchdiff ratios compare);
      // "runs" carries every timed execution so the reader can separate
      // plan regressions from host noise inside the artifact itself;
      // "compiles" holds the per-run compile counts of each query that
      // compiled at all, failed runs included
      val full =
        s"""{"metric":"total","value":$totalR,"unit":"sec","n_queries":${results.size},"queries":$qs,"runs":$runsJson,"compiles":$compilesJson,"failed":$failed,"sf":"$sfDir"}"""
      java.nio.file.Files.writeString(p, full + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
