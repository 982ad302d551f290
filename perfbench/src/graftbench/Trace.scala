package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call the benchmark made into a layer. `phase` says which part
  * of the run it belongs to (setup, prime or window). */
final case class Span(id: Long, parent: Long, phase: String, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off, `span` only runs its body. On, the span id
  * is also set as a Spark local property of the calling thread, so the
  * listener attributes each job (and its stages and tasks) to the span that
  * started it, also when several threads submit jobs at once. */
final class Tracer {
  @volatile var enabled = false
  @volatile var phase = "setup"
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(0L)
      val ctx = sc
      stack.set(id :: outer)
      if (ctx != null) ctx.setLocalProperty(Tracer.SpanKey, id.toString)
      val ph = phase
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, ph, layer, name, t0, System.nanoTime()))
        stack.set(outer)
        if (ctx != null)
          ctx.setLocalProperty(Tracer.SpanKey, if (parent == 0L) null else parent.toString)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val SpanKey = "graftbench.span"
  val FenceKey = "graftbench.fence"
}

/** Task and stage numbers the listener keeps for one stage. */
final class StageAgg {
  var span = 0L
  var tasks = 0
  var failedTasks = 0
  var numTasks = 0
  var stageMs = 0L
  var completed = false
  var maxTaskMs = 0L
  var busyMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Execution-layer counters from Spark's public listener API. Events arrive
  * in order on one listener thread; [[fence]] runs a marker job and waits
  * for its end event, so reads after it see every earlier event. */
final class ExecListener extends SparkListener {
  val jobSpan = TrieMap.empty[Int, Long]
  val stages = TrieMap.empty[Int, StageAgg]
  private val fenceJobs = TrieMap.empty[Int, String]
  private val fencesSeen = ConcurrentHashMap.newKeySet[String]()

  private def agg(stageId: Int): StageAgg = stages.getOrElseUpdate(stageId, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.FenceKey))) match {
      case Some(tag) => fenceJobs.put(e.jobId, tag)
      case None =>
        val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
          .map(_.toLong).getOrElse(0L)
        jobSpan.put(e.jobId, span)
        e.stageIds.foreach(s => agg(s).span = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    fenceJobs.remove(e.jobId).foreach(fencesSeen.add)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.get(e.stageInfo.stageId).foreach { a =>
      val i = e.stageInfo
      a.completed = true
      a.numTasks = i.numTasks
      for (s <- i.submissionTime; c <- i.completionTime) a.stageMs += c - s
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get(e.stageId).foreach { a =>
      val info = e.taskInfo
      a.tasks += 1
      if (!info.successful) a.failedTasks += 1
      a.busyMs += info.duration
      a.maxTaskMs = math.max(a.maxTaskMs, info.duration)
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }

  /** Block until every event posted before this call has been delivered. */
  def fence(sc: SparkContext): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val span = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, null)
    sc.setLocalProperty(Tracer.FenceKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Tracer.FenceKey, null)
      sc.setLocalProperty(Tracer.SpanKey, span)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!fencesSeen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
