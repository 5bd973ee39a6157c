package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Pluggable lineage truncation — every `.materialize()` in this
  * engine routes through here instead of calling
  * `Dataset.localCheckpoint` directly.
  *
  * Why it exists: the iterative operators (BFS/SSSP rounds, LPA,
  * HyperBall, Brandes, the memoized adjacency/signature artifacts)
  * truncate lineage each round so plans stay bounded. `localCheckpoint`
  * is the right default — executor-local blocks, no external storage,
  * and the ContextCleaner reclaims superseded rounds — but it is
  * explicitly NOT fault tolerant: the blocks live only on the executor
  * that wrote them, so losing ONE executor mid-query kills the job
  * (`Checkpoint block rdd_N_M not found`), and because lineage was
  * truncated there is nothing to recompute from. On a 1000-executor
  * cluster where executors are preempted routinely, a multi-hour
  * iterative job needs a durability choice the single-JVM gate never
  * sees. Measured in the round-8 chaos probe (SURVEY §14): the same
  * query on the same fabric dies under `local` and completes with
  * identical results under `reliable` when an executor is SIGKILLed
  * mid-round.
  *
  * `graft.checkpoint.mode` (runtime conf, read per call):
  *  - `local` (default): `localCheckpoint` — fastest, blocks pinned to
  *    their executor, job fails if that executor dies. Right for
  *    single-node runs and clusters with checkpoint-restart at the job
  *    level.
  *  - `replicated`: `localCheckpoint` at `MEMORY_AND_DISK_2` — every
  *    block has a second executor replica, so any SINGLE executor loss
  *    is survivable at the cost of 2× block memory/disk and one extra
  *    network copy per block. No external storage needed.
  *  - `reliable`: `Dataset.checkpoint` to the cluster's checkpoint
  *    directory (`spark.checkpoint.dir`, e.g. an HDFS/S3 path —
  *    required, loudly). Survives ANY number of executor losses; costs
  *    one extra computation of the frame (Spark's reliable checkpoint
  *    runs a separate writing job) plus a distributed-FS round trip.
  *    Pair with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *    so superseded rounds' checkpoint files are reclaimed the way
  *    local blocks are (the probe harness sets it).
  *
  * Any other value fails loudly. No mode skips the cut: the checkpoint
  * also pins nondeterministic frames (sample, first), whose repeated
  * reads could otherwise diverge.
  *
  * The mode is deliberately a CONF, not a parameter: the call sites
  * are the engine's internals, but the durability trade belongs to the
  * cluster operator running the job.
  */
object Materialize {

  implicit final class MaterializeOps[T](private val ds: Dataset[T])
      extends AnyVal {

    /** Eager, mirroring `Dataset.localCheckpoint()`'s default. */
    def materialize(): Dataset[T] = materialize(eager = true)

    def materialize(eager: Boolean): Dataset[T] = {
      val spark = ds.sparkSession
      spark.conf.getOption("graft.checkpoint.mode")
        .map(_.trim.toLowerCase).getOrElse("local") match {
        case "local" | "" =>
          ds.localCheckpoint(eager)
        case "replicated" =>
          ds.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_2)
        case "reliable" =>
          require(spark.sparkContext.getCheckpointDir.isDefined,
            "graft.checkpoint.mode=reliable needs a checkpoint " +
              "directory: set spark.checkpoint.dir (a cluster-visible " +
              "path) or call sparkContext.setCheckpointDir")
          ds.checkpoint(eager)
        case other => throw new IllegalArgumentException(
          s"graft.checkpoint.mode must be local|replicated|reliable: $other")
      }
    }
  }
}
