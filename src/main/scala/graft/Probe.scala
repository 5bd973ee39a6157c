package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.util.Memos

/** A/B measurement main for catalog keys:
  * `graft.Probe [--plans] [--leg name:k=v;k=v]… key…`, e.g.
  * `tools/runjava.sh graft.Probe --leg rounds:graft.graph.broadcastEdges=0
  * --leg kernel: g_pagerank`. Corpus from `SPARK_GRAFT_SF_DIR`
  * (required), fabric from [[SparkEnv]], timed reps from
  * `SPARK_GRAFT_REPS` (default 3).
  *
  *  - After Bench's untimed warmup, each key runs once per leg
  *    untimed, then the timed reps run in ABBA leg order (forward on
  *    even reps, reversed on odd), each after `Memos.resetDerived()`
  *    as Bench's passes do.
  *  - A leg sets its confs around each call and then restores each
  *    one's previous value, or unsets it. Without `--leg` one empty
  *    leg runs.
  *  - Prints one fabric line, then one JSON line per timed call.
  *    Counters come from a SparkListener; the listener bus is drained
  *    before they are read, so metering adds no job. parallel_eff is
  *    task-CPU ÷ (wall × defaultParallelism). memo_hits and
  *    memo_misses are the call's deltas of `Memos.hits`/`misses`.
  *  - `--plans` prints the executed (post-AQE) plans of each leg's
  *    last timed rep, largest last: the view where ReusedExchange,
  *    AQEShuffleRead and runtime join choices show.
  */
object Probe {
  final case class Leg(name: String, confs: Seq[(String, String)])

  /** Parses `name:k=v;k=v` (`name:` is a leg with no confs). */
  def leg(spec: String): Leg = spec.split(":", 2) match {
    case Array(name, kvs) if name.nonEmpty =>
      Leg(name, kvs.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"leg conf must be k=v: $kv")
        }
      })
    case _ => throw new IllegalArgumentException(
      s"leg must be name:k=v;k=v, got: $spec")
  }

  final case class Rec(key: String, leg: String, rep: Int, rows: Long,
      wallS: Double, jobs: Long, stages: Long, tasks: Long,
      taskCpuS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      parallelEff: Double, memoHits: Long, memoMisses: Long) {
    def json: String =
      s"""{"key":${str(key)},"leg":${str(leg)},"rep":$rep,"rows":$rows,""" +
        s""""wall_s":${num(wallS)},"jobs":$jobs,"stages":$stages,""" +
        s""""tasks":$tasks,"task_cpu_s":${num(taskCpuS)},""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""parallel_eff":${num(parallelEff)},"memo_hits":$memoHits,""" +
        s""""memo_misses":$memoMisses}"""
  }

  /** Executed plans of one leg's last timed rep of one key. */
  final case class Plans(key: String, leg: String, rep: Int,
      plans: Seq[String])

  /** The timed calls, as (rep, leg): ABBA order over the legs. */
  def order(legs: Seq[Leg], reps: Int): Seq[(Int, Leg)] =
    (0 until reps).flatMap(r =>
      (if (r % 2 == 0) legs else legs.reverse).map(r + 1 -> _))

  private def str(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  private final class Meter extends SparkListener
      with QueryExecutionListener {
    val jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite =
      new AtomicLong
    val plans = new ConcurrentLinkedQueue[String]

    def reset(): Unit = {
      Seq(jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite)
        .foreach(_.set(0L))
      plans.clear()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      plans.add(s"-- $funcName (${durationNs / 1000000} ms) --\n" +
        qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Runs `body` with the leg's confs set, then restores them. */
  private def withLeg[T](spark: SparkSession, leg: Leg)(body: => T): T = {
    val set = spark.conf.getAll
    val before = leg.confs.map { case (k, _) => k -> set.get(k) }
    leg.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The probe without session setup or warmup: each timed call is
    * passed to `emit` as it completes and returned; the plans are
    * empty unless `capturePlans`. */
  private[graft] def run(spark: SparkSession, sfDir: String,
      keys: Seq[String], legs: Seq[Leg], reps: Int, capturePlans: Boolean,
      emit: Rec => Unit = _ => ()): (Seq[Rec], Seq[Plans]) = {
    val catalog = SparkEntry.queries
    val unknown = keys.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val runLegs = if (legs.isEmpty) Seq(Leg("default", Nil)) else legs
    require(runLegs.map(_.name).distinct.size == runLegs.size,
      s"leg names must be distinct: ${runLegs.map(_.name).mkString(", ")}")
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    if (capturePlans) spark.listenerManager.register(meter)
    try {
      val recs = Vector.newBuilder[Rec]
      val plans = Vector.newBuilder[Plans]
      keys.foreach { key =>
        def call(leg: Leg): Long =
          withLeg(spark, leg)(catalog(key)(spark, sfDir).count())
        runLegs.foreach(call)
        val last = order(runLegs, reps).map { case (rep, leg) =>
          Memos.resetDerived()
          org.apache.spark.GraftProbeBus.drain(sc)
          meter.reset()
          val (hits0, misses0) = (Memos.hits(), Memos.misses())
          val t0 = System.nanoTime()
          val rows = call(leg)
          val wall = (System.nanoTime() - t0) / 1e9
          org.apache.spark.GraftProbeBus.drain(sc)
          val cpu = meter.cpuNs.get / 1e9
          val rec = Rec(key, leg.name, rep, rows, wall, meter.jobs.get,
            meter.stages.get, meter.tasks.get, cpu, meter.shuffleRead.get,
            meter.shuffleWrite.get, cpu / (wall * sc.defaultParallelism),
            Memos.hits() - hits0, Memos.misses() - misses0)
          emit(rec)
          recs += rec
          leg.name -> Plans(key, leg.name, rep,
            meter.plans.asScala.toSeq.sortBy(_.length))
        }.toMap
        if (capturePlans) runLegs.foreach(l => plans += last(l.name))
      }
      (recs.result(), plans.result())
    } finally {
      sc.removeSparkListener(meter)
      if (capturePlans) spark.listenerManager.unregister(meter)
    }
  }

  def main(args: Array[String]): Unit = {
    var capturePlans = false
    var legs = Vector.empty[Leg]
    var keys = Vector.empty[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--plans" => capturePlans = true
      case "--leg" if it.hasNext => legs :+= leg(it.next())
      case flag if flag.startsWith("--") => throw new IllegalArgumentException(
        s"usage: graft.Probe [--plans] [--leg name:k=v;k=v]... key...; got $flag")
      case key => keys :+= key
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a corpus dir"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkEnv.session()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warm(spark, sfDir, keys.exists(_.startsWith("g_")))
    println(s"""{"fabric":{"master":${str(spark.sparkContext.master)},""" +
      s""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""shuffle_partitions":${
        spark.conf.get("spark.sql.shuffle.partitions")}}}""")
    val (_, plans) = run(spark, sfDir, keys, legs, reps, capturePlans,
      r => println(r.json))
    plans.foreach { p =>
      println(s"===== ${p.key} [${p.leg}] executed plans, rep ${p.rep} =====")
      p.plans.foreach { s => println(s); println() }
    }
    spark.stop()
  }
}
