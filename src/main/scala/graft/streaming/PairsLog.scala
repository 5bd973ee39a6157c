package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.sources.{Compaction, SegmentStore, ShadowLog}

/** The streaming verdict log — one place for the machinery both
  * dedup-on-arrival streams share ([[StreamingDedup]] text pairs,
  * [[StreamingEmbeddingDedup]] vector pairs): per-batch directories
  * under `<index root>/pairs/<segment name>`, `_COMMITTED`-gated,
  * compacted under the [[graft.sources.ShadowLog]] protocol with the
  * batch-name retention rule the index's replay-pending guard depends
  * on. Only the row schema and the owning index differ per stream, so
  * they are parameters. */
private[streaming] object PairsLog {

  def base(root: String) = new Path(root, "pairs")

  def fsOf(spark: SparkSession, root: String): FileSystem =
    base(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed, unshadowed pairs dir names. */
  def committedDirs(fs: FileSystem, p: Path): Seq[String] =
    ShadowLog.list(fs, p, "_COMMITTED", _ => true)._1

  /** Batch names held by committed compaction targets' `_sources` —
    * the forward-path replay guard reads ONLY compact-* targets (one
    * listing + a handful of small reads), staying O(compactions). */
  def shadowedBatches(fs: FileSystem, root: String): Set[String] = {
    val p = base(root)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("compact-"))
      .filter(d => fs.exists(new Path(p, s"$d/_COMMITTED")))
      .flatMap(d => ShadowLog.readSources(fs, p, d))
      .toSet
  }

  /** Every committed verdict row; empty frame of `emptyDdl` when the
    * log has none. */
  def currentPairs(spark: SparkSession, root: String,
      emptyDdl: String): DataFrame = {
    val p = base(root)
    val fs = fsOf(spark, root)
    val dirs = committedDirs(fs, p)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(emptyDdl))
    else spark.read.parquet(dirs.map(d => new Path(p, d).toString): _*)
  }

  /** Verdict rows minus those naming a retracted id on EITHER side —
    * the pairs-log face of the owning index's tombstones (both row
    * schemas lead with `a BIGINT, b BIGINT`). Used two ways: readers
    * apply it against LIVE tombstones (so a retracted id's verdicts
    * disappear the instant the tombstone commits, covering the crash
    * window between a tombstone and its [[purgeIds]]), and every
    * merge applies it to what it rewrites (physical removal rides
    * compaction, exactly like the index segments). */
  def minusIds(df: DataFrame, ids: DataFrame): DataFrame = {
    val cols = df.columns.map(col)
    val i = ids.select(col(ids.columns.head).as("id")).distinct()
    df.join(i.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(i.select(col("id").as("b")), Seq("b"), "left_anti")
      .select(cols: _*)
  }

  /** PHYSICALLY remove every verdict naming one of `ids` — the
    * pairs-log half of retraction ([[graft.sources.DedupIndex
    * .tombstone]] is the index half; the streams' `retract` composes
    * them purge-first so a crash anywhere reconverges by rerunning).
    * One detection scan over the committed log finds the affected
    * dirs (deletion requests are small — two broadcast semi-joins),
    * then ONLY those dirs are rewritten filtered, under the same
    * shadow-protocol merge as compaction (so the replay guard keeps
    * seeing purged batch names through the `_sources` closure).
    * Returns the rewritten dir, or None when nothing names the ids. */
  def purgeIds(spark: SparkSession, root: String, ids: DataFrame,
      targetBytes: Long, liveIndexSegs: => Set[String]): Option[String] = {
    val p = base(root)
    val fs = fsOf(spark, root)
    val (srcs, shadowed) = ShadowLog.list(fs, p, "_COMMITTED", _ => true)
    if (srcs.isEmpty) return None
    val idDf = ids.select(col(ids.columns.head).as("id")).distinct()
    val all = spark.read
      .parquet(srcs.map(d => new Path(p, d).toString): _*)
      .withColumn("__file", input_file_name())
    val hitFiles = all
      .join(idDf.select(col("id").as("a")), Seq("a"), "left_semi")
      .select("__file")
      .union(all.join(idDf.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("__file"))
      .distinct().collect().map(_.getString(0))
    val affected = srcs.filter(d => hitFiles.exists(_.contains(s"/$d/")))
    if (affected.isEmpty) return None
    merge(spark, root, affected, shadowed, targetBytes, liveIndexSegs,
      xform = minusIds(_, idDf))
  }

  /** Full merge of every committed pairs dir — the explicit
    * maintenance form. `liveIndexSegs` feeds the retention rule: a
    * streaming batch's name must stay in the closure WHILE its index
    * segment is visible (else the index compaction strands it
    * replay-pending forever — the r8 liveness leak), and is prunable
    * after, bounding the closure at O(live batch segments).
    * `xform` is the owning stream's live-tombstone filter: merges
    * APPLY retractions to what they rewrite. */
  def compactAll(spark: SparkSession, root: String, targetBytes: Long,
      liveIndexSegs: => Set[String],
      xform: DataFrame => DataFrame = identity): Option[String] = {
    val p = base(root)
    val fs = fsOf(spark, root)
    val (srcs, shadowed) = ShadowLog.list(fs, p, "_COMMITTED", _ => true)
    if (srcs.size < 2) return None
    merge(spark, root, srcs, shadowed, targetBytes, liveIndexSegs, xform)
  }

  /** Tiered merge — the hot-path form auto-compaction runs; only the
    * [[Compaction.tieredPick]] subset folds, so the verdict log
    * (which grows with the corpus's duplicate history) is never
    * wholly rewritten on the stream's forward path. */
  def compactTiered(spark: SparkSession, root: String,
      targetBytes: Long, ratio: Option[Double],
      liveIndexSegs: => Set[String],
      xform: DataFrame => DataFrame = identity): Option[String] = {
    val p = base(root)
    val fs = fsOf(spark, root)
    val (srcs, shadowed) = ShadowLog.list(fs, p, "_COMMITTED", _ => true)
    if (srcs.size < 2) return None
    val sized = srcs.map(d =>
      d -> fs.getContentSummary(new Path(p, d)).getLength)
    val r = ratio.getOrElse(
      spark.conf.getOption("graft.dedup.compactRatio")
        .map(_.toDouble).getOrElse(4.0))
    val pick = Compaction.tieredPick(sized, r)
    if (pick.size < 2) None
    else merge(spark, root, pick, shadowed, targetBytes, liveIndexSegs,
      xform)
  }

  private def merge(spark: SparkSession, root: String, srcs: Seq[String],
      shadowed: Set[String], targetBytes: Long,
      liveIndexSegs: => Set[String],
      xform: DataFrame => DataFrame = identity): Option[String] = {
    val p = base(root)
    val fs = fsOf(spark, root)
    // timestamp + monotonic sequence, the GraphStore convention:
    // same-millisecond safe, clock-step-back safe
    val seg = f"compact-${System.currentTimeMillis()}%013d-${
      compactSeq.incrementAndGet()}%04d"
    val paths = srcs.map(d => new Path(p, d).toString)
    val pl = Compaction.planAll(spark, paths, targetBytes)
    xform(spark.read.parquet(paths: _*)).repartition(pl.nOut)
      .write.mode("error").parquet(new Path(p, seg).toString)
    // closure, not just srcs: see ShadowLog — and for this log the
    // closure is doubly load-bearing: the stream's replay guard AND
    // the index compaction's replay-pending exclusion both read it to
    // recognize compacted-away batches. A batch name is RETAINED past
    // its dir's deletion exactly while its index segment is still
    // visible at the root — dropping it then would strand that
    // segment as "replay-pending" forever; once the index segment is
    // itself compacted away the name CAN be pruned, bounding the
    // closure at O(live batch segments): a replayed batch that finds
    // neither its pairs name nor its index segment simply re-runs and
    // first-write-wins converges it to an empty segment + empty
    // verdicts — the compacted copies already hold the batch
    val live = liveIndexSegs
    ShadowLog.writeSources(fs, p, seg,
      ShadowLog.sourcesClosure(fs, p, srcs, shadowed,
        retain = s => SegmentStore.StreamingBatchSegment.matches(s) &&
          live(s)))
    fs.create(new Path(p, s"$seg/_COMMITTED"), true).close()
    srcs.foreach(d => fs.delete(new Path(p, d), true))
    Some(seg)
  }

  /** Delete pairs directories no reader can see — crashed-cleanup
    * relics and torn dirs; NEVER while the stream runs (an in-flight
    * batch's dir is marker-less between write and commit). */
  def vacuum(spark: SparkSession, root: String): Seq[String] =
    ShadowLog.vacuum(fsOf(spark, root), base(root), "_COMMITTED", _ => true)

  private val compactSeq = new java.util.concurrent.atomic.AtomicLong()
}
