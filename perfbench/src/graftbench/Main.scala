package graftbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.{GraftSession, SparkEntry}
import graft.ingest.{ReportPipeline, Sinks}
import graft.ops.Checkpoints

/** Benchmark harness for one workload in one JVM (see perfbench/DESIGN.md).
  *
  * Phases: the set-up (JVM start to session built and warm-up done),
  * untimed prime rounds with the live-memory samples, then the timed
  * window. With tracing on the window runs three times: untraced, traced,
  * untraced, so the caller can report the tracing overhead. Raw numbers go
  * to `<work>/<result>`, spans to `<work>/spans.jsonl`, outputs to check
  * under `<work>`. With `--setup-only 1` the JVM stops after the set-up,
  * so the caller can take more cold set-up samples.
  */
object Main {

  /** A pass over these fits the run budget at sf0.01 (DESIGN.md lists the
    * operators left out); each mechanism of the mix stays: BandIndex disk
    * writes (q452), an iterative checkpointed loop (q110), CPU-heavy hashing
    * (q37) and a graft.functions expression (q40). */
  val curationQueries: Seq[String] = Seq(
    "q37_fingerprint", "q40_cosine_topk", "q110_kmeans", "q452_incremental_vector_index")

  /** Builders whose calls are the on-disk `BandIndex`. */
  val bandIndexQueries = Set("q447_incremental_band_index", "q452_incremental_vector_index")

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, nproc: Int, expectBase: Long,
                        expectExtra: Long, setupOnly: Boolean, result: String)

  /** One timed request: an operator call, a pass or an ingest batch. */
  final case class Req(name: String, startNs: Long, endNs: Long, ok: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** What one timed window measured; a round is one ingest cycle (full
    * batch + incremental batch) or one curation pass. */
  final case class Window(wallS: Double, reqs: Seq[Req], items: Long, itemS: Double,
                          latencies: Seq[Double], rounds: Int, cpuS: Double = 0.0) {
    def throughput: Double = if (itemS > 0) items / itemS else 0.0
  }

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), Paths.get(kv("work")).toAbsolutePath, kv("nproc").toInt,
      kv.getOrElse("expect-base", "0").toLong, kv.getOrElse("expect-extra", "0").toLong,
      kv.getOrElse("setup-only", "0") == "1", kv.getOrElse("result", "result.json"))
  }

  val tracer = new Tracer
  @volatile var currentWorkload: Workload = _
  val attempted = new AtomicLong(0)
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def fail(what: String, e: Throwable): Unit = {
    val msg = Option(e).map(x => s"${x.getClass.getSimpleName}: ${Option(x.getMessage).getOrElse("")}")
      .getOrElse("wrong result")
    failures.add(s"$what: ${msg.linesIterator.take(1).mkString.take(300)}")
  }

  val mapper = new ObjectMapper

  private def putArr(b: ObjectNode, k: String, xs: Seq[Any]): Unit = {
    val a = b.putArray(k)
    xs.foreach { case d: Double => a.add(d); case x => a.add(x.toString) }
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupStartNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val out = mapper.createObjectNode()

    // trace spans in set-up too, so the traced run reports session.* layers
    tracer.enabled = conf.trace
    tracer.phase = "setup"
    val spark = tracer.span("session", "GraftSession.localBuilder.getOrCreate") {
      GraftSession.localBuilder(conf.nproc)
        .config("spark.local.dir", conf.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    tracer.sc = spark.sparkContext
    val created = System.nanoTime()
    tracer.span("session", "warmup")(warmUp(spark, conf))
    val warm = System.nanoTime()
    tracer.enabled = false
    out.put("setup_s", (warm - setupStartNs) / 1e9)
    out.put("session_create_s", (created - setupStartNs) / 1e9)
    out.put("session_warmup_s", (warm - created) / 1e9)
    if (conf.setupOnly) {
      Files.writeString(conf.work.resolve(conf.result), mapper.writeValueAsString(out))
      spark.stop()
      return
    }

    val wl: Workload = conf.workload match {
      case "curation_batch" => new Curation(conf)
      case "report_ingest" => new Ingest(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    currentWorkload = wl
    Files.writeString(conf.work.resolve("oracle_sql.json"), graft.Verify.oracleJson(
      SparkEntry.oracleSql.filter { case (q, _) => wl.queryNames.contains(q) }))
    tracer.phase = "prime"
    wl.prime(spark)
    tracer.phase = "window"
    val untraced = measured(wl.window(spark))
    // traced run: untraced, traced, untraced again, so the overhead compares
    // the traced window with both neighbours and a warming trend cancels
    var traced: Option[(Window, ExecListener, Seq[Span], Window)] = None
    if (conf.trace) {
      val listener = new ExecListener
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
      val w = measured(wl.window(spark))
      tracer.enabled = false
      listener.fence(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val after = measured(wl.window(spark))
      traced = Some((w, listener, tracer.spans.filter(_.phase == "window"), after))
    }
    Checkpoints.releaseAll(spark)

    val b = out.putObject("bases")
    b.put("nproc", Runtime.getRuntime.availableProcessors)
    b.put("master", spark.sparkContext.master)
    b.put("local_width", conf.nproc)
    b.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    b.put("spark_version", spark.version)
    b.put("jdk_version", System.getProperty("java.version"))
    b.put("data_dir", conf.data)
    b.put("table_bytes", dirBytes(Paths.get(conf.data)))
    b.put("queries", wl.queryNames.mkString(","))
    wl.bases(b)
    wl.primeResult(out.putObject("prime"))
    windowJson(out.putObject("untraced"), untraced)
    traced.foreach { case (w, l, spans, after) =>
      windowJson(out.putObject("traced"), w)
      windowJson(out.putObject("untraced_after"), after)
      Layers.write(out.putObject("layers"), conf, w, l, spans)
      writeSpans(conf.work.resolve("spans.jsonl"), tracer.spans)
    }
    out.put("attempted", attempted.get)
    putArr(out, "failures", failures.asScala.toSeq)
    out.put("peak_live_mb", LiveMemory.peakMb)
    val parts = out.putArray("live_mb_samples")
    LiveMemory.samples.foreach { p => val a = parts.addArray(); p.foreach(x => a.add(x)) }
    out.put("vm_hwm_mb", vmHwmMb())
    Files.writeString(conf.work.resolve(conf.result), mapper.writeValueAsString(out))
    spark.stop()
  }

  /** Adds the JVM's CPU time over the window. */
  private def measured(w: => Window): Window = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val c0 = os.getProcessCpuTime
    val r = w
    r.copy(cpuS = (os.getProcessCpuTime - c0) / 1e9)
  }

  private def windowJson(b: ObjectNode, w: Window): Unit = {
    b.put("wall_s", w.wallS)
    b.put("cpu_s", w.cpuS)
    b.put("rounds", w.rounds)
    b.put("requests", w.reqs.size)
    b.put("items", w.items)
    b.put("item_s", w.itemS)
    b.put("throughput_per_s", w.throughput)
    putArr(b, "latency_ms", w.latencies)
    putArr(b, "order", w.reqs.sortBy(_.startNs).map(_.name))
    val r = b.putObject("request_ms")
    w.reqs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) => putArr(r, n, rs.map(_.ms)) }
  }

  private def warmUp(spark: SparkSession, conf: Conf): Unit = conf.workload match {
    case "report_ingest" =>
      ReportPipeline.ingest(spark, conf.work.resolve("reports/warm").toString).count()
    case _ => SparkEntry.queries("q01_agg")(spark, conf.data).count()
  }

  /** Memory the program holds: heap in use after a full collection, plus
    * non-heap use (class metadata, code cache) and NIO buffers. Sampled at
    * the points of a prime round where the most is pinned; the peak is the
    * `peak_live_mb` metric. The forced collections stay out of the window. */
  object LiveMemory {
    /** (heap, non-heap, buffers) in MB, one entry per sample */
    val samples = mutable.ArrayBuffer.empty[Seq[Double]]
    def peakMb: Double = if (samples.isEmpty) 0.0 else samples.map(_.sum).max
    def sample(): Unit = {
      System.gc()
      val mx = ManagementFactory.getMemoryMXBean
      val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
        .map(_.getMemoryUsed).sum
      samples += Seq(mx.getHeapMemoryUsage.getUsed, mx.getNonHeapMemoryUsage.getUsed, buffers)
        .map(_ / 1048576.0)
    }
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    // self time: the span's duration minus the union of its children's
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, z)) =>
          val from = math.max(a, end)
          (if (z > from) sum + (z - from) else sum, math.max(end, z))
        }._1
      val j = mapper.createObjectNode()
      j.put("id", s.id); j.put("parent", s.parent)
      j.put("phase", s.phase); j.put("layer", s.layer); j.put("name", s.name)
      j.put("start_ms", s.startNs / 1e6); j.put("dur_ms", s.ms)
      j.put("self_ms", (s.endNs - s.startNs - covered) / 1e6)
      mapper.writeValueAsString(j)
    }
    Files.write(path, lines.asJava)
  }

  /** Physical operators of a plan, looking through adaptive wrappers. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.inputPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Plan shape counters recorded by traced requests. */
  final class PlanStats {
    val exchanges = new AtomicLong
    val smj = new AtomicLong
    val files = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def recordFiles(df: DataFrame): Unit =
      try df.inputFiles.foreach(files.add) catch { case _: Throwable => () }
    def record(df: DataFrame, plan: SparkPlan): Unit = {
      recordFiles(df)
      val nodes = planNodes(plan)
      exchanges.addAndGet(nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
      smj.addAndGet(nodes.count(_.isInstanceOf[SortMergeJoinExec]))
    }
  }

  /** Checkpoint samples taken before each release. */
  final class CheckpointStats {
    val samples = new AtomicLong
    val rdds = new AtomicLong
    val bytes = new AtomicLong
    def sample(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      samples.incrementAndGet()
      rdds.addAndGet(sc.getPersistentRDDs.size)
      bytes.addAndGet(sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
  }

  abstract class Workload(val conf: Conf) {
    def queryNames: Seq[String] = Nil
    def bases(b: ObjectNode): Unit = ()
    def prime(spark: SparkSession): Unit
    def primeResult(b: ObjectNode): Unit
    def window(spark: SparkSession): Window
    val plans = new PlanStats
    val checkpoints = new CheckpointStats
  }

  /** One client, sequential seed-ordered passes over the curation operators. */
  final class Curation(conf: Conf) extends Workload(conf) {
    private val qs = curationQueries
    override def queryNames: Seq[String] = qs
    private var pass = 0
    private var sampleMemory = false

    /** builder → plan → Parquet write → `releaseAll`, each in its own span;
      * the caller checks the last written results. */
    private def call(spark: SparkSession, q: String): Unit = tracer.span("bench", q) {
      val df = tracer.span("ops", q)(SparkEntry.queries(q)(spark, conf.data))
      val plan = tracer.span("plan", q)(df.queryExecution.executedPlan)
      if (tracer.enabled) plans.record(df, plan)
      tracer.span("exec", q)(df.write.mode("overwrite").parquet(conf.work.resolve(s"results/$q").toString))
      if (tracer.enabled) checkpoints.sample(spark)
      if (sampleMemory) LiveMemory.sample()
      tracer.span("checkpoint", "releaseAll")(Checkpoints.releaseAll(spark))
    }

    private def runPass(spark: SparkSession, order: Seq[String]): (Seq[Req], Long, Long) = {
      val t0 = System.nanoTime()
      val reqs = order.map { q =>
        attempted.incrementAndGet()
        val s = System.nanoTime()
        val ok = try { call(spark, q); true }
        catch { case e: Throwable => fail(q, e); Checkpoints.releaseAll(spark); false }
        Req(q, s, System.nanoTime(), ok)
      }
      (reqs, t0, System.nanoTime())
    }

    /** One untimed pass: a first pass burns ~1.7x the CPU of later ones on
      * JIT and codegen work, and that share varies from JVM to JVM. It
      * samples live memory while each operator's checkpoints are pinned,
      * in a fixed order: non-heap use grows through the pass, so a seeded
      * order would move the peak with the seed. */
    def prime(spark: SparkSession): Unit = {
      sampleMemory = true
      try runPass(spark, qs) finally sampleMemory = false
    }
    def primeResult(b: ObjectNode): Unit = b.put("passes", 1)

    /** A request here is a whole pass, as a scheduled batch job would run. */
    def window(spark: SparkSession): Window = {
      val t0 = System.nanoTime()
      val deadline = t0 + (conf.seconds * 1e9).toLong
      val passes = mutable.ArrayBuffer.empty[(Seq[Req], Long, Long)]
      do {
        pass += 1
        passes += runPass(spark, new Random(conf.seed * 7919L + pass).shuffle(qs))
      } while (System.nanoTime() < deadline)
      val calls = passes.flatMap(_._1).toSeq
      val passReqs = passes.toSeq.map { case (rs, a, z) => Req("pass", a, z, rs.forall(_.ok)) }
      val passS = passReqs.map(r => (r.endNs - r.startNs) / 1e9).sum
      // throughput: operator calls per second of pass time
      Window((System.nanoTime() - t0) / 1e9, calls, calls.count(_.ok), passS,
        passReqs.filter(_.ok).map(_.ms), passes.size)
    }

    override def bases(b: ObjectNode): Unit = b.put("operators", qs.size)
  }

  /** The paper's job: `ReportPipeline.run` over N generated report files into
    * fresh CSV + Parquet outputs, then again after ~10 % new files arrive. */
  final class Ingest(conf: Conf) extends Workload(conf) {
    private val in = conf.work.resolve("reports/in")
    private val extra = conf.work.resolve("reports/extra")
    private val outDir = conf.work.resolve("out")
    private val extraNames = {
      val s = Files.list(extra)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    val stats = new IngestStats
    private var primeAppended = 0L
    private var primeFull = 0L
    private var sampleMemory = false

    private def moveExtra(from: Path, to: Path): Unit =
      extraNames.foreach(n => Files.move(from.resolve(n), to.resolve(n), StandardCopyOption.ATOMIC_MOVE))

    /** One batch. Untraced it is `ReportPipeline.run` itself; traced, or
      * when it samples live memory, it replays run's three calls so each
      * gets a span and the samples fall while the records are cached (see
      * DESIGN.md). */
    private def batch(spark: SparkSession, csv: Path, pq: Path, incremental: Boolean): Long =
      tracer.span("bench", if (incremental) "append_batch" else "full_batch") {
        if (!tracer.enabled && !sampleMemory)
          ReportPipeline.run(spark, in.toString, csv.toString, pq.toString)
        else {
          val t0 = System.nanoTime()
          val ingested = tracer.span("ingest", "ReportPipeline.ingest")(
            ReportPipeline.ingest(spark, in.toString))
          plans.recordFiles(ingested)
          val records = ingested.cache()
          try {
            val parsed = tracer.span("ingest", "materialize")(records.count())
            if (sampleMemory) LiveMemory.sample()
            val t1 = System.nanoTime()
            tracer.span("sinks", "Sinks.writeCsv")(Sinks.writeCsv(records, csv.toString))
            val t2 = System.nanoTime()
            val n = tracer.span("sinks", "Sinks.appendNewReportsOnly")(
              Sinks.appendNewReportsOnly(spark, records, pq.toString))
            if (tracer.enabled)
              stats.add(incremental, parsed, n, t1 - t0, t2 - t1, System.nanoTime() - t2)
            if (sampleMemory) LiveMemory.sample()
            n
          } finally { records.unpersist(); () }
        }
      }

    /** Full batch into fresh outputs, then the incremental batch. Returns
      * (full ns, records committed, append ns, records appended). */
    private def cycle(spark: SparkSession, keepCsv: Boolean): (Long, Long, Long, Long) = {
      deleteTree(outDir)
      val pq = outDir.resolve("parquet")
      val t0 = System.nanoTime()
      val full = batch(spark, outDir.resolve("csv_full"), pq, incremental = false)
      val t1 = System.nanoTime()
      val stored = dirBytes(outDir.resolve("csv_full")) + dirBytes(pq)
      stats.stored(stored)
      if (keepCsv) Files.write(outDir.resolve("parquet_after_full.txt"),
        Files.list(pq).iterator.asScala.map(_.getFileName.toString).toSeq.sorted.asJava)
      moveExtra(extra, in)
      try {
        val t2 = System.nanoTime()
        val appended = batch(spark, outDir.resolve(if (keepCsv) "csv_append" else "csv_full"), pq,
          incremental = true)
        val t3 = System.nanoTime()
        (t1 - t0, full, t3 - t2, appended)
      } finally moveExtra(in, extra)
    }

    private def checked(what: String, got: Long, want: Long): Boolean = {
      attempted.incrementAndGet()
      if (got != want) fail(s"$what committed $got records, expected $want", null)
      got == want
    }

    /** The first prime cycle keeps its outputs for the caller's record-level
      * check; the others take most of the JIT and codegen work of a fresh
      * JVM out of the window, and the last one samples live memory. */
    def prime(spark: SparkSession): Unit =
      try {
        val (_, full, _, appended) = cycle(spark, keepCsv = true)
        primeFull = full; primeAppended = appended
        checked("prime full batch", full, conf.expectBase)
        checked("prime incremental batch", appended, conf.expectExtra)
        Files.move(outDir, conf.work.resolve("checked"), StandardCopyOption.ATOMIC_MOVE)
        for (i <- 2 to Ingest.PrimeCycles) {
          sampleMemory = i == Ingest.PrimeCycles
          val (_, f, _, a) = try cycle(spark, keepCsv = false) finally sampleMemory = false
          checked("prime full batch", f, conf.expectBase)
          checked("prime incremental batch", a, conf.expectExtra)
        }
      } catch { case e: Throwable => attempted.incrementAndGet(); fail("prime cycle", e) }

    def primeResult(b: ObjectNode): Unit = {
      b.put("full_records", primeFull)
      b.put("appended_records", primeAppended)
    }

    def window(spark: SparkSession): Window = {
      val t0 = System.nanoTime()
      val deadline = t0 + (conf.seconds * 1e9).toLong
      val reqs = mutable.ArrayBuffer.empty[Req]
      var items = 0L
      var itemNs = 0L
      var cycles = 0
      do {
        val s = System.nanoTime()
        try {
          val (fullNs, full, appendNs, appended) = cycle(spark, keepCsv = false)
          val ok1 = checked("full batch", full, conf.expectBase)
          val ok2 = checked("incremental batch", appended, conf.expectExtra)
          if (ok1) { items += full; itemNs += fullNs }
          reqs += Req("full_batch", s, s + fullNs, ok1)
          reqs += Req("append_batch", s + fullNs, s + fullNs + appendNs, ok2)
        } catch { case e: Throwable =>
          attempted.incrementAndGet(); fail("ingest cycle", e)
        }
        cycles += 1
      } while (System.nanoTime() < deadline || cycles < Ingest.WindowCycles)
      val appends = reqs.filter(r => r.ok && r.name == "append_batch").map(_.ms).toSeq
      Window((System.nanoTime() - t0) / 1e9, reqs.toSeq, items, itemNs / 1e9, appends, cycles)
    }

    override def bases(b: ObjectNode): Unit = {
      b.put("input_files", Files.list(in).count() + extraNames.size)
      b.put("input_bytes_full", dirBytes(in))
      b.put("input_bytes_extra", dirBytes(extra))
      b.put("records_full", conf.expectBase)
      b.put("records_extra", conf.expectExtra)
    }
  }

  object Ingest {
    val PrimeCycles = 4
    /** The CPU a cycle burns still falls from cycle to cycle after the
      * prime, so a window of a fixed minimum length in cycles keeps
      * `cpu_s_per_round` from depending on how fast the host ran. */
    val WindowCycles = 4
  }

  /** Per-batch numbers from the traced ingest replay. */
  final class IngestStats {
    var batches = 0L
    var parseNs = 0L
    var csvNs = 0L
    var appendNs = 0L
    var appendParsed = 0L
    var appendAppended = 0L
    var storedBytes = 0L
    var storedSamples = 0L
    def add(incremental: Boolean, parsed: Long, appended: Long, parse: Long, csv: Long,
            app: Long): Unit = {
      batches += 1; parseNs += parse; csvNs += csv; appendNs += app
      if (incremental) { appendParsed += parsed; appendAppended += appended }
    }
    def stored(bytes: Long): Unit = { storedBytes += bytes; storedSamples += 1 }
  }
}
