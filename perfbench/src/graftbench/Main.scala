package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back: end-to-end metrics measured on
  * untraced ops, the same metrics measured on traced ops (trace runs
  * only; their difference is the tracing overhead), per-layer metrics
  * (the same names for every workload), and free-form facts for the
  * run's artifact, among them the figures of layers only this
  * workload calls. */
final case class Outcome(e2e: Seq[Metric], tracedE2e: Seq[Metric],
    layer: Seq[Metric], info: Map[String, Any])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val tiny: Boolean = false,
    val plant: Boolean = false) {
  val tracer = new Tracer(spark.sparkContext)
  val counters: Option[SparkCounters] =
    if (!trace) None
    else {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }
  val cores: Int = spark.sparkContext.defaultParallelism
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      failures.synchronized {
        if (failures.size < 20) {
          failures += what
          System.err.println(s"[graftbench] WRONG RESULT: $what")
        }
      }
    }
    ok
  }

  /** Run `body` as one checked op; an exception counts as a failure. */
  def attempt(what: => String)(body: => Boolean): Boolean =
    try check(body, what)
    catch {
      case e: Exception =>
        check(false, s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def failureSample: Seq[String] = failures.synchronized(failures.toList)

  /** Alternate traced and untraced units in a trace run, so the
    * difference between the two halves is the tracing overhead. */
  def traced(i: Long): Boolean = trace && i % 2 == 1

  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def phase(what: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[graftbench] $up%7.1fs $what")
  }

  def dir(name: String): String = {
    val d = s"$work/$name"
    new java.io.File(d).mkdirs()
    d
  }
}

object Main {

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    new java.io.File(work).mkdirs()
    if (args.contains("--cds-train")) {
      // class-list training for the build's class-data-sharing archive:
      // start a session and run one query; exit (not halt) so the JVM
      // writes the archive
      session().range(10).selectExpr("sum(id)").collect()
      System.exit(0)
    }
    val code =
      if (args.contains("--selftest")) SelfTest.run(work)
      else run(
        arg(args, "--workload").getOrElse(sys.error("--workload is required")),
        arg(args, "--seed").map(_.toLong).getOrElse(1L),
        arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
        arg(args, "--trace").contains("1"),
        work, arg(args, "--artifact"))
    System.out.flush()
    // no lingering non-daemon threads may keep the JVM alive
    Runtime.getRuntime.halt(code)
  }

  def session(): SparkSession = {
    val s = graft.SparkEnv.session()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String): Ctx => Outcome = name match {
    case "egraph_serve" => Serve.run
    case "analytics_batch" => Batch.run
    case "corpus_ingest" => Ingest.run
    case other => sys.error(s"unknown workload $other")
  }

  final case class Measured(result: org.json4s.JObject, metrics: Seq[Metric],
      attempted: Long, failed: Long)

  /** One measured run: the workload, its metrics and its artifact. */
  def measure(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, artifact: Option[String],
      tiny: Boolean = false, plant: Boolean = false): Measured = {
    val fabricStart = Fabric.record(spark)
    val cpu0 = Fabric.cpuJiffies()
    val ctx = new Ctx(spark, work, seed, seconds, trace, tiny, plant)
    ctx.phase("session ready")
    val out = workload(name)(ctx)
    ctx.drain()
    ctx.counters.foreach { c =>
      spark.sparkContext.removeSparkListener(c)
      spark.listenerManager.unregister(c)
    }
    val fabric = fabricStart ++ Map("loadavg_end" -> Fabric.loadavg(),
      "cpu_steal_share" -> (for ((s0, t0) <- cpu0; (s1, t1) <- Fabric.cpuJiffies())
        yield (s1 - s0).toDouble / math.max(1L, t1 - t0)))
    val metrics =
      if (!trace) out.e2e
      else {
        val untraced = out.e2e.map(m => m.name -> m).toMap
        val overhead = out.tracedE2e.flatMap { t =>
          untraced.get(t.name).map(u =>
            Metric(s"trace_overhead.${t.name}", t.value - u.value, t.unit))
        }
        out.layer ++ overhead
      }
    val attempted = ctx.attempted.get
    val failed = ctx.failed.get
    val result = Json.obj(
      "correct" -> (failed == 0L && attempted > 0L),
      "attempted" -> math.max(attempted, 1L),
      "failed" -> (if (attempted == 0L) 1L else failed),
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*))
    artifact.foreach { path =>
      val spans = if (trace) ctx.tracer.all else Nil
      Json.write(path, Json.obj(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "fabric" -> fabric,
        "result" -> result,
        "untraced_e2e" -> out.e2e.map(m => m.name -> m.value).toMap,
        "traced_e2e" -> out.tracedE2e.map(m => m.name -> m.value).toMap,
        "info" -> out.info,
        "fail_frac" -> failed.toDouble / math.max(attempted, 1L),
        "failures" -> ctx.failureSample,
        // median self time per call of every layer call the run traced
        "self_ms" -> scala.collection.immutable.ListMap(
          Tracer.medianSelfMs(spans).toSeq.sorted: _*),
        "spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs))))
    }
    System.err.println("[graftbench] fabric " + Json.render(fabric))
    Measured(result, metrics, attempted, failed)
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, artifact: Option[String]): Int = {
    val m = measure(session(), name, seed, seconds, trace, work, artifact)
    println("@@RESULT " + Json.render(m.result))
    0
  }
}

/** The fabric a run executed on, recorded in every artifact. */
object Fabric {
  def loadavg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim)
      .getOrElse(java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage.toString)

  /** (steal, total) CPU time of the machine so far, in jiffies: steal
    * is time the hypervisor gave this guest's CPUs to other guests. */
  def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }.toOption

  def record(spark: SparkSession): Map[String, Any] = {
    val conf = spark.conf
    Map(
      "spark.master" -> spark.sparkContext.master,
      "defaultParallelism" -> spark.sparkContext.defaultParallelism,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled", "true"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "loadavg_start" -> loadavg(),
      "git_commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"))
  }
}

/** JSON for results and artifacts, rendered with json4s. Numbers keep
  * all their digits; a NaN or infinite value is written as null. */
object Json {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def obj(fields: (String, Any)*): JObject = JObject(fields.map { case (k, v) => k -> of(v) }.toList)

  def of(v: Any): JValue = v match {
    case j: JValue => j
    case null | None => JNull
    case Some(x) => of(x)
    case b: Boolean => JBool(b)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case n: Int => JLong(n)
    case n: Long => JLong(n)
    case s: String => JString(s)
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> of(x) })
    case (k, x) => obj(k.toString -> x)
    case xs: Iterable[_] => JArray(xs.map(of).toList)
    case other => JString(other.toString)
  }

  def render(v: Any): String = JsonMethods.compact(of(v))

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, render(v).getBytes("UTF-8"))
  }
}
