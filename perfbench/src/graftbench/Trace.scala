package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed call at a layer boundary. `op` is the id of the root span
  * (the user-visible operation) the call belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are opened only from the benchmark's
  * own files, around each call into a graft layer; the call and the
  * materialization of its result sit inside the span, because graft's
  * verbs return lazy frames whose work runs when the result is read.
  *
  * While a traced op runs, the current span id rides on the thread's
  * Spark local properties, so every job the call submits is
  * attributed to the innermost open span by [[SparkCounters]]. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  // (span id, op id) stack of the calling thread; empty = untraced
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  private def enter(id: Long, op: Long): Unit = {
    stack.set((id, op) :: stack.get)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
  }

  private def exit(): Unit = {
    val rest = stack.get.tail
    stack.set(rest)
    rest.headOption match {
      case Some((id, _)) => sc.setLocalProperty(Tracer.SpanProp, id.toString)
      case None => sc.setLocalProperty(Tracer.SpanProp, null)
    }
  }

  /** Root span of one user-visible operation; `traced = false` runs the
    * body bare (no span, no job attribution). */
  def op[T](name: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      enter(id, id)
      try body
      finally {
        exit()
        spans.add(Span(id, 0L, id, name, t0, System.nanoTime()))
      }
    }

  /** Child span; a no-op outside a traced op. */
  def span[T](name: String)(body: => T): T = stack.get match {
    case Nil => body
    case (parent, op) :: _ =>
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      enter(id, op)
      try body
      finally {
        exit()
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
      }
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (children merged first, so
    * overlapping children are not subtracted twice, and clipped to the
    * parent's interval). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - covered(ivs))
    }.toMap
  }

  /** Length of the union of the intervals `[a, b)`. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per span name: median self time per call, in ms. */
  def medianSelfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Stats.median(ss.map(s => self(s.id) / 1e6))
    }
  }
}

/** Counters of one span, summed over the jobs, stages and tasks Spark
  * ran on its behalf. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var planMs = 0.0
  // wall-clock interval (ms since the epoch) of every job
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    planMs += o.planMs
    jobSpans ++= o.jobSpans
  }

  /** Wall time during which at least one of the jobs ran, in ms. */
  def jobWallMs: Long = Tracer.covered(jobSpans.toSeq)
}

/** Spark's own counters, attributed to the span that was innermost on
  * the submitting thread. A plain SparkListener plus a
  * QueryExecutionListener — no barrier jobs, so metering adds no job
  * or stage to the op it meters. Untraced work lands under span 0. */
final class SparkCounters extends org.apache.spark.scheduler.SparkListener
    with org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.scheduler._

  private val lock = new Object
  private val bySpan = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long]
  // running jobs: id -> (span, start time)
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  // executions whose plan time arrived before their first job
  private val pendingPlan = mutable.HashMap.empty[Long, Double]

  private def c(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val s = spanOf(e.properties)
    c(s).jobs += 1
    jobStart(e.jobId) = (s, e.time)
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).foreach { x =>
      val ex = x.toLong
      if (!execSpan.contains(ex)) {
        execSpan(ex) = s
        pendingPlan.remove(ex).foreach { ms =>
          c(s).planMs += ms
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) => c(s).jobSpans += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      c(s).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = stageSpan.getOrElse(e.stageId, 0L)
    val k = c(s)
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.cpuNs += m.executorCpuTime
      k.runMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.inputBytes += m.inputMetrics.bytesRead
      k.inputRecords += m.inputMetrics.recordsRead
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        // the web UI's scheduler delay: wall not spent deserializing,
        // running, serializing or fetching the result
        k.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  private def planMsOf(qe: org.apache.spark.sql.execution.QueryExecution): Double =
    qe.tracker.phases.collect {
      case (p, s) if p == "analysis" || p == "optimization" || p == "planning" =>
        s.durationMs.toDouble
    }.sum

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    lock.synchronized {
      val ms = planMsOf(qe)
      execSpan.get(qe.id) match {
        case Some(s) => c(s).planMs += ms
        case None => pendingPlan(qe.id) = ms
      }
    }

  /** Snapshot of the per-span counters (call after draining the bus). */
  def snapshot(): Map[Long, Counters] = lock.synchronized {
    bySpan.map { case (k, v) => val n = new Counters; n.add(v); k -> n }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean; NaN on no samples. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
