package graft
import org.apache.spark.sql.SparkSession

/** The probe/verify mains' shared session construction — one place
  * for the env-driven overrides, so Bench, Verify and Probe run on the
  * same fabric with the same knobs.
  *
  * - SPARK_GRAFT_CPUS: local[] width + default shuffle partitions.
  * - SPARK_GRAFT_MASTER: master override for multi-executor probes —
  *   e.g. `local-cluster[2,16,36864]` runs two REAL executor JVMs
  *   (separate heaps, real shuffle fabric, closure serialization),
  *   the shape local[N] can't exercise. SPARK_GRAFT_EXEC_MEM /
  *   SPARK_GRAFT_EXEC_CP size those executors (extraClassPath must
  *   carry the graft classes: local-cluster executors don't inherit
  *   the driver's -cp).
  * - SPARK_GRAFT_SHUFFLE right-sizes shuffle parallelism for scale
  *   probes: partitions must grow with the DATA, not the core count
  *   (the 512× probes proved it — 32 partitions over 600M-edge
  *   shuffles put ~19M rows in every task and died three different
  *   ways: task hash-agg OOM, join spill memory, disk-spill
  *   concentration). Setting initialPartitionNum alongside lets AQE
  *   coalesce small stages back down, so only the stages that NEED
  *   the width pay for it — the cluster-operator config this library
  *   documents for 100 TB deployments.
  * - SPARK_GRAFT_CONF="k=v;k2=v2": arbitrary conf passthrough for
  *   probe A/Bs (e.g. graft.ball.roundCheckpoint=false,
  *   graft.checkpoint.mode=reliable, spark.checkpoint.dir=...).
  *
  * Always set: cleaner periodicGC at 1min — iterative algos that
  * truncate lineage per round rely on the ContextCleaner to reclaim
  * superseded rounds' blocks/shuffles/checkpoint files, but the
  * cleaner only learns an RDD is garbage when the DRIVER GCs, and a
  * 100 g heap may not GC for a whole probe (default periodicGC is
  * 30 min). cleanCheckpoints=true extends the same reclamation to
  * reliable-mode checkpoint files (no-op otherwise). */
object SparkEnv {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXEC_MEM")
      .foreach(m => builder.config("spark.executor.memory", m))
    sys.env.get("SPARK_GRAFT_EXEC_CP")
      .foreach(cp => builder.config("spark.executor.extraClassPath", cp))
    sys.env.get("SPARK_GRAFT_SHUFFLE").foreach { n =>
      builder.config("spark.sql.shuffle.partitions", n)
      builder.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n)
    }
    builder.config("spark.cleaner.periodicGC.interval", "1min")
    builder.config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => builder.config(k.trim, v.trim)
        case _ =>
      }
    })
    builder.getOrCreate()
  }
}
