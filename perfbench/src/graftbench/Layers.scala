package graftbench

import com.fasterxml.jackson.databind.node.ObjectNode

import Main.{Conf, Window}

/** Per-layer metrics of the traced window. Counts, times and bytes are per
  * request (a query, an operator call or an ingest batch) unless the name
  * says share or amplification. */
object Layers {

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def write(b: ObjectNode, conf: Conf, w: Window, l: ExecListener, window: Seq[Span]): Unit = {
    val wl = Main.currentWorkload
    val reqs = math.max(1, w.reqs.size).toDouble
    def per(x: Double): Double = x / reqs

    val windowIds = window.map(_.id).toSet
    val stages = l.stages.values.filter(s => windowIds(s.span)).toSeq
    val jobs = l.jobSpan.toSeq.filter { case (_, s) => windowIds(s) }
    def jobsIn(spans: Seq[Span]): Int = { val ids = spans.map(_.id).toSet; jobs.count(j => ids(j._2)) }

    val opsSpans = window.filter(_.layer == "ops")
    b.put("ops.build_ms", mean(opsSpans.map(_.ms)))
    b.put("ops.build_jobs", if (opsSpans.isEmpty) 0.0 else jobsIn(opsSpans).toDouble / opsSpans.size)

    val band = opsSpans.filter(s => Main.bandIndexQueries(s.name))
    val bandIds = band.map(_.id).toSet
    b.put("bandindex.build_ms", mean(band.map(_.ms)))
    b.put("bandindex.jobs", if (band.isEmpty) 0.0 else jobsIn(band).toDouble / band.size)
    b.put("bandindex.write_bytes",
      if (band.isEmpty) 0.0 else stages.filter(s => bandIds(s.span)).map(_.output).sum.toDouble / band.size)

    val cp = wl.checkpoints
    val samples = math.max(1L, cp.samples.get).toDouble
    b.put("checkpoint.pinned_rdds", cp.rdds.get / samples)
    b.put("checkpoint.pinned_bytes", cp.bytes.get / samples)
    b.put("checkpoint.release_ms", mean(window.filter(_.layer == "checkpoint").map(_.ms)))

    val planSpans = window.filter(_.layer == "plan")
    val planned = math.max(1, planSpans.size).toDouble
    b.put("plan.plan_ms", mean(planSpans.map(_.ms)))
    b.put("plan.exchanges", wl.plans.exchanges.get / planned)
    b.put("plan.sort_merge_joins", wl.plans.smj.get / planned)

    val done = stages.filter(_.completed)
    val busy = stages.map(_.busyMs).sum.toDouble
    b.put("exec.jobs", per(jobs.size))
    b.put("exec.stages", per(done.size))
    b.put("exec.single_task_stages", per(done.count(_.numTasks == 1)))
    b.put("exec.tasks", per(stages.map(_.tasks).sum))
    b.put("exec.failed_tasks", per(stages.map(_.failedTasks).sum))
    b.put("exec.task_busy_ms", per(busy))
    b.put("exec.task_cpu_ms", per(stages.map(_.cpuNs).sum / 1e6))
    b.put("exec.gc_ms", per(stages.map(_.gcMs).sum))
    b.put("exec.task_overhead_ms", per(stages.map(s => s.busyMs - s.runMs).sum))
    b.put("exec.busy_share", busy / (w.wallS * 1000.0 * conf.nproc))
    val multi = done.filter(s => s.numTasks > 1 && s.stageMs > 0)
    b.put("exec.max_task_share",
      if (multi.isEmpty) 0.0 else multi.map(_.maxTaskMs).sum.toDouble / multi.map(_.stageMs).sum)
    val input = stages.map(_.input).sum.toDouble
    b.put("exec.shuffle_write_bytes", per(stages.map(_.shuffleWrite).sum))
    b.put("exec.shuffle_read_bytes", per(stages.map(_.shuffleRead).sum))
    b.put("exec.spill_bytes", per(stages.map(_.spill).sum))
    b.put("exec.input_bytes", per(input))
    val distinct = fileBytes(wl.plans.files)
    b.put("exec.scan_amplification", if (distinct > 0) input / distinct else 0.0)

    val ing = wl match { case i: Main.Ingest => Some(i.stats); case _ => None }
    val batches = ing.map(s => math.max(1L, s.batches).toDouble).getOrElse(1.0)
    b.put("ingest.parse_ms", ing.map(_.parseNs / 1e6 / batches).getOrElse(0.0))
    b.put("sinks.csv_ms", ing.map(_.csvNs / 1e6 / batches).getOrElse(0.0))
    b.put("sinks.parquet_append_ms", ing.map(_.appendNs / 1e6 / batches).getOrElse(0.0))
    val stored = ing.map(s => s.storedBytes.toDouble / math.max(1L, s.storedSamples)).getOrElse(0.0)
    b.put("ingest.output_bytes", stored)
    val inputBytes = Main.dirBytes(conf.work.resolve("reports/in")).toDouble
    b.put("ingest.stored_bytes_per_input_byte",
      if (ing.isDefined && inputBytes > 0) stored / inputBytes else 0.0)
    b.put("ingest.append_parse_amplification", ing.map { s =>
      if (s.appendAppended > 0) s.appendParsed.toDouble / s.appendAppended else 0.0
    }.getOrElse(0.0))
    b.put("bench.requests", w.reqs.size)
  }

  private def fileBytes(paths: java.util.Set[String]): Double = {
    import scala.jdk.CollectionConverters._
    paths.asScala.toSeq.map { p =>
      // inputFiles names URI-escaped paths ('[' reads %5B)
      val f = new java.io.File(new java.net.URI(p).getPath)
      if (f.isFile) f.length.toDouble else 0.0
    }.sum
  }
}
