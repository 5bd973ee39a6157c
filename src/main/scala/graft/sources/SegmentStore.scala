package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.plans.Materialize._

/** One table of every data segment: its directory name, the key it
  * is sorted (and, when compacted, bucketed) by — the key its probes
  * push — and the schema an empty read returns. */
private[graft] case class SegmentTable(name: String, key: String,
    ddl: String)

/** The crash-safe segment log behind both incremental near-dup
  * indexes ([[DedupIndex]], [[EmbeddingDedupIndex]]), in ONE place.
  * An index supplies its table specs and its own signatures,
  * candidate generation, verification and `_meta.json`; everything
  * about how rows become durable, visible, retracted and merged is
  * here, above [[ShadowLog]] (markers, `_sources` shadowing),
  * [[IndexLayout]] (sorted/bucketed layout, `_layouts` manifest,
  * pruned probes), [[Compaction]] (sizing, tiered pick) and [[Lease]]
  * (single writer).
  *
  * Store layout (segment log, NOT merged state):
  * {{{
  *   root/
  *     _meta.json            (index geometry, written once by the index)
  *     _layouts              (segment → table → bp dirs; pure cache)
  *     seg-<ts>-<seq>/
  *       _SUCCESS            (commit marker, written LAST)
  *       _sources            (merged segments only: what it shadows)
  *       <table>/            (one dir per SegmentTable)
  *     seg-<ts>-<seq>-tomb/
  *       _SUCCESS
  *       ids/                (retracted ids)
  * }}}
  * Each append writes ONLY the batch's own rows — O(batch) bytes,
  * never O(corpus). Readers union the committed segments; a crash
  * mid-write leaves a marker-less directory that every reader skips,
  * and merging segments preserves semantics because a document's
  * index rows depend only on the document itself.
  *
  * `refuseMerge` runs inside the writer lease before a compaction
  * lists its sources (the embedding index refuses while a reband is
  * pending). */
private[graft] final class SegmentStore(tables: Seq[SegmentTable],
    refuseMerge: (FileSystem, String) => Unit = (_, _) => ()) {
  import SegmentStore._

  def table(name: String): SegmentTable = tables.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no table $name"))

  /** What a segment-appending mutation sees inside [[withWriter]]:
    * the pre-batch store — data and tombstone segments from ONE
    * listing, manifest holes healed — and the name its segment
    * commits under. `p` is the store's pinned probe-bucket count. */
  final class Writer private[SegmentStore] (spark: SparkSession,
      root: String, fs: FileSystem, segs: Seq[String],
      tombs: Seq[String], seg: String, p: Int) {
    private val cap = IndexLayout.probeKeyCap(spark)

    /** `df` minus rows of live-tombstoned ids. */
    def live(df: DataFrame): DataFrame = notTombstoned(spark, root, tombs, df)

    /** Table `name` pruned to the distinct keys of `keys`' one column (see
      * [[probeTable]]); on a fresh store, `like` with no rows — an
      * empty frame of the BATCH's own schema, so non-bigint ids work
      * on the first append too. */
    def probe(name: String, keys: DataFrame, what: String,
        like: DataFrame): DataFrame =
      if (segs.isEmpty) like.limit(0)
      else probeTable(spark, root, segs, name, p,
        IndexLayout.collectKeys(keys.distinct(), p, cap, what))

    /** First write wins: `rows` (with an `id` column) minus
      * live-tombstoned ids, one row per id, minus ids the store
      * already holds. The log cannot retract stored rows, so a
      * re-ingested id would double its rows forever and a
      * redelivery INSIDE one batch would be written twice; a
      * tombstoned id's rows are being retracted, so re-indexing it
      * would resurrect the data. The store side is the id-keyed
      * `idTable` probed with the batch's own ids. Materialized. */
    def firstWrites(rows: DataFrame, idTable: String): DataFrame = {
      val fresh = live(rows.dropDuplicates("id"))
      (if (segs.isEmpty) fresh
        else fresh.join(probe(idTable, rows.select(col("id")),
          "batch ids", rows).select(col("id")), Seq("id"), "left_anti"))
        .materialize()
    }

    /** Commit this writer's segment: each table flat-sorted by its key
      * (batch segments are the L0 tail — only merges write the
      * bucketed form), then [[seal]]. Returns the segment name. */
    def commit(rows: (String, DataFrame)*): String = {
      rows.foreach { case (t, df) =>
        IndexLayout.writeSorted(df, table(t).key, s"$root/$seg/$t", 0) }
      seal(fs, root, seg, rows.map(_._1 -> Nil).toMap, segs)
      seg
    }
  }

  /** The writer scope of every append (update, bulk load): the
    * single-writer lease (a concurrent mutation would interleave
    * shadow commits), the probe-pushdown scope (every probe-dependent
    * frame is planned AND materialized inside it), then — inside the
    * lease, so a racing second writer cannot delete the holder's
    * in-flight segment — a replayed segment named `segmentName` is
    * dropped BEFORE the store is listed: its content is a pure
    * function of the batch, so a crash-recovery re-run rewrites it
    * instead of appending the batch twice, and sees exactly the
    * pre-batch store. Then ONE listing, split into data and `-tomb`
    * segments, and one manifest heal: a pre-manifest store (or a
    * crash between a commit and its manifest rewrite) pays its
    * listStatus walk here once, never on every probe. */
  def withWriter[T](spark: SparkSession, root: String, p: Int,
      segmentName: Option[String])(f: Writer => T): T =
    Lease.withWriter(spark, root) {
      IndexLayout.withProbePushdown(spark) {
        val fs = fsOf(spark, root)
        segmentName.foreach { s =>
          require(s.startsWith("seg-"),
            s"segment name must start with seg-: $s")
          val sp = new Path(root, s)
          if (fs.exists(sp)) fs.delete(sp, true)
        }
        val (segs, tombs, _) = listing(fs, root)
        IndexLayout.ensureLayouts(fs, new Path(root), segs,
          tables.map(_.name))
        f(new Writer(spark, root, fs, segs, tombs,
          segmentName.getOrElse(newSegment("")), p))
      }
    }

  /** A fresh segment name; `suffix` marks merges and tombstones. */
  def newSegment(suffix: String): String =
    f"seg-${System.currentTimeMillis()}%013d-${
      saveSeq.incrementAndGet()}%04d$suffix"

  /** Write one table of segment `seg`, bucketed `p` ways (flat when
    * 0); returns the bp dirs the write created — one listStatus, paid
    * here at write time so no probe ever pays it. */
  def writeTable(fs: FileSystem, root: String, seg: String, name: String,
      df: DataFrame, p: Int, nOut: Option[Int] = None): Seq[String] = {
    val dir = s"$root/$seg/$name"
    IndexLayout.writeSorted(df, table(name).key, dir, p, nOut)
    if (p > 0) IndexLayout.listBp(fs, new Path(dir)) else Nil
  }

  /** THE segment commit: `_sources` when the segment replaces others
    * (the closure — see [[ShadowLog]] — so dropping a prior merge
    * target cannot resurrect its crash relics), then `_SUCCESS`: the
    * instant it exists the segment is visible and its sources are
    * shadowed. Then the manifest entry, pruned to `live :+ seg` —
    * after the marker, so a crash in between leaves a hole the next
    * writer heals, never an entry for an invisible directory. A
    * segment with no probe tables (`layouts` empty: a tombstone) gets
    * no entry. */
  def seal(fs: FileSystem, root: String, seg: String,
      layouts: Map[String, Seq[String]], live: Seq[String],
      replaces: Seq[String] = Nil, shadowed: Set[String] = Set.empty)
      : Unit = {
    val rootP = new Path(root)
    if (replaces.nonEmpty) ShadowLog.writeSources(fs, rootP, seg,
      ShadowLog.sourcesClosure(fs, rootP, replaces, shadowed))
    fs.create(new Path(rootP, s"$seg/_SUCCESS"), true).close()
    if (layouts.nonEmpty)
      IndexLayout.recordLayouts(fs, rootP, Map(seg -> layouts), live :+ seg)
  }

  /** ONE [[ShadowLog]] pass: (committed unshadowed data segments,
    * live tombstone segments, shadowed set). */
  def listing(fs: FileSystem, root: String)
      : (Seq[String], Seq[String], Set[String]) = {
    val (all, shadowed) =
      ShadowLog.list(fs, new Path(root), "_SUCCESS", _.startsWith("seg-"))
    val (tombs, segs) = all.partition(_.endsWith("-tomb"))
    (segs, tombs, shadowed)
  }

  /** Committed, unshadowed data segments. */
  def segments(spark: SparkSession, root: String): Seq[String] =
    listing(fsOf(spark, root), root)._1

  /** Committed, unshadowed tombstone segments. */
  def tombSegments(spark: SparkSession, root: String): Seq[String] =
    listing(fsOf(spark, root), root)._2

  /** Every committed, non-retracted row of `name`; empty when the
    * store is new. */
  def current(spark: SparkSession, root: String, name: String): DataFrame = {
    val (segs, tombs, _) = listing(fsOf(spark, root), root)
    notTombstoned(spark, root, tombs, readSegments(spark, root, segs, name))
  }

  /** Union read of the committed segments' `name` dirs. `subs`
    * narrows to bucket subdirectories (e.g. "bp=7") — a segment
    * without that subdir (no rows routed there) is skipped. Bucketed
    * segments are read by their LEAF dirs, never via partition
    * discovery: several segment roots each holding bp=* dirs trip
    * CONFLICTING_DIRECTORY_STRUCTURES, and the bp value is write-time
    * routing metadata no reader needs. Layout comes from the
    * `_layouts` manifest — one small read, or the caller's
    * already-resolved map — with a per-segment listStatus fallback
    * for manifest misses. */
  def readSegments(spark: SparkSession, root: String, segs: Seq[String],
      name: String, subs: Seq[String] = Nil,
      layouts: Option[IndexLayout.SegLayouts] = None): DataFrame = {
    val paths = if (segs.isEmpty) Nil else {
      val fs = fsOf(spark, root)
      val rootP = new Path(root)
      val lay = layouts.getOrElse(IndexLayout.readLayouts(fs, rootP))
      segs.flatMap { s =>
        val dir = s"$root/$s/$name"
        val ds = IndexLayout.layoutFor(fs, rootP, lay, s, name)
        if (subs.nonEmpty) subs.filter(ds.toSet).map(d => s"$dir/$d")
        else if (ds.isEmpty) Seq(dir)
        else ds.map(d => s"$dir/$d")
      }
    }
    if (paths.isEmpty) empty(spark, table(name).ddl)
    else spark.read.parquet(paths: _*)
  }

  /** The probe plan (see [[IndexLayout]]): `keys` None reads
    * unpruned; flat L0 segments get ONE scan with the full key chain;
    * bucketed (compacted) segments get grouped per-bucket scans, each
    * pushing its own short chain. Layout resolution is one manifest
    * read; a segment missing from it costs one listStatus. */
  def probeTable(spark: SparkSession, root: String, segs: Seq[String],
      name: String, p: Int, keys: Option[Array[(Any, Int)]]): DataFrame =
    keys match {
      case None => readSegments(spark, root, segs, name)
      case Some(ks) if ks.isEmpty => readSegments(spark, root, Nil, name)
      case Some(ks) =>
        val fs = fsOf(spark, root)
        val rootP = new Path(root)
        val cached = IndexLayout.readLayouts(fs, rootP)
        val dirsBySeg = segs.map(s => s ->
          IndexLayout.layoutFor(fs, rootP, cached, s, name)).toMap
        val lay: IndexLayout.SegLayouts =
          dirsBySeg.map { case (s, ds) => s -> Map(name -> ds) }
        val key = table(name).key
        def scan(ss: Seq[String], ks: Array[Any], subs: Seq[String] = Nil) =
          readSegments(spark, root, ss, name, subs, Some(lay))
            .where(IndexLayout.chain(key, ks))
        val (bucketed, flat) = segs.partition(s => dirsBySeg(s).nonEmpty)
        val allKeys = ks.map(_._1)
        val tail = if (flat.isEmpty) Nil else Seq(scan(flat, allKeys))
        val bulk = if (bucketed.isEmpty) Nil
          else if (p <= 0) Seq(scan(bucketed, allKeys))
          else IndexLayout.scanGroups(ks).map { case (dirs, gks) =>
            scan(bucketed, gks, dirs) }
        (tail ++ bulk) match {
          case Nil => readSegments(spark, root, Nil, name)
          case parts => parts.reduce(_ unionByName _)
        }
    }

  /** RETRACT documents from the index — the one lifecycle operation
    * an append-only segment log cannot express in place (opt-out and
    * licensing deletions). Writes the ids as a small committed
    * `seg-…-tomb` segment (one id-sorted `ids` table, same marker and
    * shadow conventions); readers and probes anti-join it, and
    * compaction APPLIES it:
    *
    *  - while a tombstone is LIVE, the id's stored rows are invisible
    *    to every reader and probe (it can never appear in new pairs),
    *    and a re-arrival of the id is dropped like a duplicate;
    *  - a compaction that covers EVERY data segment rewrites the
    *    store without the id's rows and drops the tombstone with the
    *    sources it shadowed (partial/tiered folds apply the filter to
    *    what they merge but keep the tombstone — rows may survive in
    *    unmerged segments);
    *  - cost stays O(batch) per append: the live tombstone set is
    *    deletion-request-sized (it drains at every full compaction),
    *    read whole and anti-joined — no probe shape changes.
    *
    * A tombstone retracts PAST data and blocks the id while live; it
    * is not a permanent ban — once applied and dropped, a future
    * re-ingestion of the same id is a fresh document (re-consent).
    * Returns the segment name, or None for an empty id set. */
  def tombstone(spark: SparkSession, root: String,
      ids: DataFrame): Option[String] = {
    val fs = fsOf(spark, root)
    require(fs.exists(new Path(root, "_meta.json")), s"no index at $root")
    val idDf = ids.select(col(ids.columns.head).as("id")).distinct()
    if (idDf.isEmpty) None
    else Lease.withWriter(spark, root) {
      val seg = newSegment("-tomb")
      IndexLayout.writeSorted(idDf, "id", s"$root/$seg/ids", 0)
      seal(fs, root, seg, Map.empty, Nil)
      Some(seg)
    }
  }

  /** The live (unapplied) tombstoned ids — empty when none. */
  def tombstonedIds(spark: SparkSession, root: String): DataFrame =
    tombIdsOf(spark, root, tombSegments(spark, root))

  private def tombIdsOf(spark: SparkSession, root: String,
      tombs: Seq[String]): DataFrame =
    if (tombs.isEmpty) empty(spark, "id BIGINT")
    else spark.read.parquet(tombs.map(s => s"$root/$s/ids"): _*)
      .select("id").distinct()

  /** `df` minus rows whose `id` is live-tombstoned; skips the join
    * entirely when no tombstone segment exists (the forward path). */
  def notTombstoned(spark: SparkSession, root: String,
      tombs: Seq[String], df: DataFrame): DataFrame =
    if (tombs.isEmpty) df
    else df.join(tombIdsOf(spark, root, tombs), Seq("id"), "left_anti")

  /** Merge every eligible committed segment into ONE compacted
    * segment — the janitorial pass the segment-log form requires at
    * scale: a streaming writer commits one segment per micro-batch,
    * and thousands of KB-scale parquet directories cost more in
    * per-file open/footer work than in data long before volume does
    * (the disease [[Compaction]] treats for plain tables). Content is
    * unchanged; the merged segment is re-sorted and, when it can fill
    * them, re-bucketed into the store's pinned P probe buckets.
    *
    * Crash-safe swap: merged tables land in a fresh `seg-…-compact`
    * dir and [[seal]] commits it (`_sources`, then `_SUCCESS` — the
    * sources are shadowed the instant the marker exists); source
    * directories are deleted after the commit, and a crash inside
    * that cleanup just leaves shadowed dirs for [[vacuumShadowed]].
    * Returns the new segment name, or None when there is nothing to
    * merge. `force` rewrites even a SINGLE segment — the migration
    * path for layout changes (e.g. `graft.dedup.pageRows`) on a store
    * that is already one big compacted segment.
    *
    * Replay-pending guard (enforced, not advisory): a streaming batch
    * commits its index segment BEFORE its verdict log, so a crash in
    * between leaves a committed batch segment whose recovery deletes
    * and rewrites it. Folding it into a merge would let that rewrite
    * re-append the batch's rows NEXT TO the merged copy, so such
    * segments are excluded until their batch commits. */
  def compactSegments(spark: SparkSession, root: String,
      targetBytes: Long, force: Boolean = false): Option[String] =
    Lease.withWriter(spark, root) {
      val fs = fsOf(spark, root)
      val (all, shadowed, srcs, tombs) = eligibleSources(fs, root)
      if (srcs.size < (if (force) 1 else 2)) None
      else mergeSources(spark, fs, root, all, shadowed, srcs, tombs,
        targetBytes)
    }

  /** Tiered (size-ratio) compaction — the HOT-PATH form the streaming
    * auto-compaction runs: folds only the segments
    * [[Compaction.tieredPick]] selects, so a trigger costs O(recent
    * tail), never a full-store rewrite (each row is rewritten
    * O(log_ratio(store/batch)) times in total). Same commit protocol,
    * shadow closure, replay-pending guard and layout preservation as
    * [[compactSegments]]. `ratio` defaults from
    * `graft.dedup.compactRatio` (4.0). */
  def compactTiered(spark: SparkSession, root: String, targetBytes: Long,
      ratio: Option[Double]): Option[String] =
    Lease.withWriter(spark, root) {
      val fs = fsOf(spark, root)
      val (all, shadowed, srcs, tombs) = eligibleSources(fs, root)
      if (srcs.size < 2) None
      else {
        // one size listing per TRIGGER, not per batch
        val pick = Compaction.tieredPick(srcs.map(s =>
            s -> fs.getContentSummary(new Path(root, s)).getLength),
          ratio.getOrElse(spark.conf.getOption("graft.dedup.compactRatio")
            .map(_.toDouble).getOrElse(4.0)))
        if (pick.size < 2) None
        else mergeSources(spark, fs, root, all, shadowed, pick, tombs,
          targetBytes)
      }
    }

  /** (visible data segments, shadowed set, compactable subset, live
    * tombstone segments) — the guard both compaction forms share. */
  private def eligibleSources(fs: FileSystem, root: String)
      : (Seq[String], Set[String], Seq[String], Seq[String]) = {
    refuseMerge(fs, root)
    val (all, tombs, shadowed) = listing(fs, root)
    val pending = replayPending(fs, root, all)
    (all, shadowed, all.filterNot(pending), tombs)
  }

  /** The streaming batch segments among `segs` whose verdicts are not
    * committed under `root/pairs` (neither a `_COMMITTED` marker nor
    * shadowed by a committed pairs compaction): they WILL be replayed.
    * Keyed on the exact [[StreamingBatchSegment]] pattern, so a
    * direct caller's custom name can never get stuck pending. With
    * batch segments but NO pairs log, the very first batch crashed
    * before its first pairs write: every batch segment is pending. */
  def replayPending(fs: FileSystem, root: String,
      segs: Seq[String]): Set[String] = {
    val batches = segs.filter(StreamingBatchSegment.matches)
    val pairsBase = new Path(root, "pairs")
    if (batches.isEmpty || !fs.exists(pairsBase)) batches.toSet
    else {
      val (vis, shad) = ShadowLog.list(fs, pairsBase, "_COMMITTED", _ => true)
      batches.filterNot((vis.toSet ++ shad).contains).toSet
    }
  }

  /** Merge `srcs` (any eligible subset) into one fresh segment. Live
    * tombstones are APPLIED to the merged rows; when the merge covers
    * EVERY data segment they are drained too (shadowed with the
    * sources and deleted), while a partial fold keeps them. */
  private def mergeSources(spark: SparkSession, fs: FileSystem,
      root: String, all: Seq[String], shadowed: Set[String],
      srcs: Seq[String], tombs: Seq[String],
      targetBytes: Long): Option[String] = {
    val seg = newSegment("-compact")
    val pBuckets = metaProbeBuckets(fs, root)
    val layouts = tables.map { t =>
      val pl = Compaction.planAll(spark, srcs.map(s => s"$root/$s/${t.name}"),
        targetBytes)
      // bucket only when the merged table can fill the buckets (≥ ~one
      // probe-sized row group per dir): a small store split P ways
      // would EXPLODE its file count. Below the bar it stays
      // flat-sorted, which probes treat as L0 tail
      val p = if (pl.nBytes >= pBuckets.toLong * IndexLayout.blockBytes(spark))
        pBuckets else 0
      t.name -> writeTable(fs, root, seg, t.name,
        notTombstoned(spark, root, tombs,
          readSegments(spark, root, srcs, t.name)), p, Some(pl.nOut))
    }.toMap
    val drained = if (all.toSet == srcs.toSet) tombs else Nil
    seal(fs, root, seg, layouts, all.filterNot(srcs.toSet),
      srcs ++ drained, shadowed)
    (srcs ++ drained).foreach(s => fs.delete(new Path(root, s), true))
    Some(seg)
  }

  /** Delete segment directories no reader can see: merge sources a
    * crashed cleanup left behind (committed but shadowed) and
    * marker-less crash orphans. Readers are never affected; it
    * assumes the single-writer discipline (a concurrent append's
    * not-yet-committed dir looks exactly like a crash orphan). */
  def vacuumShadowed(spark: SparkSession, root: String): Seq[String] =
    Lease.withWriter(spark, root) {
      ShadowLog.vacuum(fsOf(spark, root), new Path(root), "_SUCCESS",
        _.startsWith("seg-"))
    }
}

private[graft] object SegmentStore {

  /** The segment names [[graft.streaming.StreamingDedup]] and its
    * embedding twin commit — `seg-<epoch>-batch-<id>` (epoch = 8 hex
    * chars of the query id) or the legacy pre-epoch `seg-batch-<id>`.
    * This regex IS the naming contract: the replay-pending guard and
    * the pairs log's retain predicate key on it. */
  val StreamingBatchSegment = """seg-(?:[0-9a-fA-F]{8}-)?batch-\d{10}""".r

  private val saveSeq = new java.util.concurrent.atomic.AtomicLong()

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(ddl))

  /** The store's pinned probe-bucket count, read from either index's
    * `_meta.json`; 0 when absent or predating the field (legacy flat
    * layout). */
  private def metaProbeBuckets(fs: FileSystem, root: String): Int =
    readSmall(fs, new Path(root, "_meta.json")).flatMap(
      """"probeBuckets":(\d+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).getOrElse(0)

  /** A small marker file's text, None when absent. */
  def readSmall(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
}
