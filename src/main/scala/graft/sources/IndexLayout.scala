package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Probe-prunable layout for the incremental dedup stores
  * ([[SegmentStore]], behind [[DedupIndex]] and
  * [[EmbeddingDedupIndex]]) — the mechanism that
  * makes the per-micro-batch store READ O(batch), matching what the
  * protocol already guaranteed for state and writes.
  *
  * The problem (r8 finding): segments were plain unsorted parquet,
  * so although the candidate JOIN's output is batch-driven, its
  * store-side SCAN read every band row and every shingle-set/vector
  * payload ever committed — an O(corpus) read per micro-batch that
  * at 100 TB re-reads a corpus-sized store every minute.
  *
  * The fix is two cooperating halves, both here so the write path,
  * the probe path and compaction stay in one contract:
  *
  *  1. '''Sorted segments''' ([[writeSorted]]): every segment table
  *     is range-partitioned and sorted by its probe key (`bucket`
  *     for band tables, `id` for sets/vecs) and written with small
  *     row groups (`graft.dedup.blockBytes`, default 1 MiB), so
  *     parquet row-group min/max statistics and the page-level
  *     column index describe tight, disjoint key ranges.
  *  2. '''Key-pushdown probes''' ([[collectKeys]] + [[pruned]]): the
  *     batch's touched keys (bucket values / candidate ids) are
  *     batch-bounded, so they are collected and pushed into the
  *     store scan. Predicate FORM matters, measured on this host:
  *     Spark's parquet-native In predicate (what a >10-value `isin`
  *     pushes by default) is evaluated against row-group statistics
  *     by the set's min/max ENVELOPE only — for hash-spread keys
  *     that envelope covers the whole store and prunes nothing
  *     (240k-row sorted store, 600 spread keys: 240k rows decoded).
  *     An OR-of-EqualTo chain is evaluated per key against
  *     row-group stats AND the page-level column index, and prunes
  *     exactly — BUT that evaluation costs ~5 µs per (key ×
  *     row group) (measured: a 3,000-key chain over a 400-row-group
  *     store spent ~6 s in filter evaluation vs 0.33 s for the full
  *     decode it was saving), i.e. O(batch × store) hiding in the
  *     scan setup. So chains must stay SHORT per scan, which is what
  *     the bucketed layout buys:
  *  3. '''P-way key bucketing, LSM-shaped''': COMPACTED segments are
  *     additionally hash-partitioned into `bp = pmod(xxhash64(key),
  *     P)` directories (P pinned in the store's `_meta.json` at
  *     creation — `probeBuckets`, default 64). Per-batch UPDATE
  *     segments stay flat-sorted (an L0 tail): bucketing a
  *     3,000-row micro-batch into 64 dirs costs more in files and
  *     write shuffles than it saves, and auto-compaction keeps the
  *     tail short anyway. A probe is then: one scan over the flat
  *     tail pushing the full chain (tail row groups are few, so the
  *     eval term is tiny) UNIONED with ≤[[ProbeScanGroups]] scans
  *     over the bucketed segments, each reading only the leaf dirs
  *     its key group routes to and pushing only that group's chain.
  *     Chain-eval work over the store's bulk drops to
  *     O(batch × store × groups / P); a small (streaming) batch
  *     additionally prunes whole directories. Keys are routed by
  *     Spark itself during the collect ([[collectKeys]] returns
  *     (key, bp) pairs), so no driver-side reimplementation of
  *     xxhash64 exists to drift.
  *
  * Cost model at 100 TB: a probe of `v` distinct keys decodes ~2
  * pages per key — O(batch × pageBytes), independent of store size
  * once the store exceeds the batch's key count in pages — and
  * spends O(v × (tailRowGroups + bulkRowGroups × groups / P)) in
  * predicate evaluation, spread across the scan's tasks. Stores
  * written by earlier builds (no `probeBuckets` in their meta, flat
  * unsorted segments) stay fully correct — the pushed filter is
  * semantically the join's own key predicate — they just keep
  * paying the full scan until compacted under this layout.
  *
  * The key collect is driver-side, so it is capped
  * (`graft.dedup.probeKeyCap`, default 1,000,000 keys ≈ 8 MB of
  * longs): a batch over the cap — a bulk-load-shaped batch, where a
  * full store scan is amortized over a corpus-scale batch anyway —
  * falls back to the unpruned read WITH a logged warning (the
  * repo's no-silent-caps convention).
  */
object IndexLayout {

  private val log = LoggerFactory.getLogger(getClass)

  /** Target parquet row-group bytes for index segments — small row
    * groups are what give the key-pushdown probe its pruning
    * granularity (one probed key costs one row group). 1 MiB keeps
    * the per-key probe cost ~1 MB while a 100 TB store still holds
    * its footer metadata in the low GBs. */
  def blockBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.dedup.blockBytes").map(_.toLong)
      .getOrElse(1L << 20)

  /** Max rows per parquet page in the sorted store layout — the
    * probe's decode granularity (~1-2 pages per probed key; see
    * [[writeSorted]]). */
  def pageRows(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.dedup.pageRows").map(_.toInt)
      .getOrElse(64)

  /** Max keys collected to the driver for a pruned probe; above it
    * the probe falls back to the unpruned scan (logged). */
  def probeKeyCap(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.dedup.probeKeyCap").map(_.toInt)
      .getOrElse(1000000)

  /** Default bucket count for NEW stores (pinned in their meta; the
    * conf is read only at store creation). P trades per-segment file
    * count (each micro-batch segment writes ≤P files per table)
    * against probe chain-eval work (divided by P) and small-batch
    * directory pruning. */
  def defaultProbeBuckets(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.dedup.probeBuckets").map(_.toInt)
      .getOrElse(64)

  /** The routing expression — write path and key collect MUST agree,
    * so both call this. xxhash64 handles any key type (string ids
    * included) deterministically across JVMs. */
  private def route(c: Column, p: Int): Column =
    pmod(xxhash64(c), lit(p.toLong)).cast("int")

  /** Write `df` bucketed by `bp = pmod(xxhash64(sortCol), P)` (when
    * `p > 0`; flat legacy layout when 0), range-partitioned + sorted
    * by `sortCol` within each bucket, with probe-sized row groups —
    * the layout [[pruned]] reads. `nOut` pins the shuffle width
    * (compaction); updates leave it to AQE. */
  def writeSorted(df: DataFrame, sortCol: String, path: String, p: Int,
      nOut: Option[Int] = None): Unit = {
    val bb = blockBytes(df.sparkSession)
    // Page ROW COUNT is the probe's real pruning granularity, not
    // page bytes (r11 finding): column-index filtering selects row
    // RANGES from the PREDICATE column's page boundaries, and a
    // narrow sorted key column (8-byte ids) packs thousands of
    // values into one 16 KiB page — measured on a 2001-row bucket
    // dir: a single-key probe decoded 1900 rows with byte-sized
    // pages, 300 with a row-count limit. Capping rows per page makes
    // a probed key cost ~1-2 × pageRows of decode regardless of how
    // well the key column compresses; the fat payload columns hit
    // the byte limit first, so file size is unaffected. Row groups
    // stay at `bb` (1 MiB default) so a 100 TB store's footer
    // metadata stays in the low GBs — the column index carries the
    // fine granularity, not the row-group count.
    val src = if (p > 0) df.withColumn("bp", route(col(sortCol), p)) else df
    val cols = if (p > 0) Seq(col("bp"), col(sortCol)) else Seq(col(sortCol))
    val ranged = nOut match {
      case Some(n) => src.repartitionByRange(n, cols: _*)
      case None => src.repartitionByRange(cols: _*)
    }
    val sorted = if (p > 0)
      ranged.sortWithinPartitions("bp", sortCol)
    else ranged.sortWithinPartitions(sortCol)
    val pr = pageRows(df.sparkSession)
    val w = sorted.write.option("parquet.block.size", bb)
      .option("parquet.page.size", math.max(8L * 1024, bb / 64))
      .option("parquet.page.row.count.limit", pr)
      // parquet only TESTS page boundaries every row.check.min rows
      // (default 100) — a row-count limit below that is silently
      // quantized to the check interval, so pin the interval to the
      // limit (spec: every id page spans ≤ pageRows rows)
      .option("parquet.page.size.row.check.min", math.max(1, pr / 4))
      .option("parquet.page.size.row.check.max", pr)
    (if (p > 0) w.partitionBy("bp") else w).parquet(path)
  }

  /** Per-`isin`-chunk key count — each chunk is pushed as a
    * left-deep OR-of-eq chain, so this bounds parquet's filter-visitor
    * recursion depth (the balanced OR-tree above the chunks adds only
    * log₂(chunks)). 1000 was NOT safe on a default 1 MiB task-thread
    * stack: each chain level costs several (pre-JIT, large) frames,
    * and the tiered-compaction spec's 24k-bucket probe overflowed it
    * in 3 of 10 runs; 256 keeps a 4× margin at the same number
    * of evaluated leaves. */
  val ProbeChainLen = 256

  /** The batch's touched keys, collected WITH their bucket routes —
    * None when the batch exceeds the cap (caller reads unpruned;
    * warned). Routes come from the same Spark expression the write
    * path uses, so no driver-side hash reimplementation can drift;
    * `p = 0` (legacy flat store) routes everything to bucket 0. */
  def collectKeys(keys: DataFrame, p: Int, cap: Int,
      what: String): Option[Array[(Any, Int)]] = {
    val c = col(keys.columns.head)
    val withRoute =
      if (p > 0) keys.select(c, route(c, p)) else keys.select(c, lit(0))
    val rows = withRoute.limit(cap + 1).collect()
    if (rows.length > cap) {
      log.warn(s"dedup-index probe: batch touches > $cap $what — " +
        "falling back to an unpruned store scan for this update " +
        "(raise graft.dedup.probeKeyCap if this batch size is routine)")
      None
    } else Some(rows.map(r => (r.get(0), r.getInt(1))))
  }

  /** Max union arms a bucketed probe plans: touched buckets are
    * packed into at most this many scans (each scan reads its
    * buckets' dirs and pushes their combined chain). More arms =
    * shorter chains but more driver planning/scheduling — 16 is the
    * measured local sweet spot; chain-eval stays O(batch × store ×
    * groups / P). */
  val ProbeScanGroups = 16

  /** Balanced OR-tree of ≤[[ProbeChainLen]]-key `isin` chunks —
    * semantically the `isin` the join would apply anyway, shaped so
    * expression/visitor recursion stays O(chainLen + log chunks). */
  def chain(keyCol: String, ks: Array[Any]): Column = {
    val parts = ks.grouped(ProbeChainLen)
      .map(g => col(keyCol).isin(g.toIndexedSeq: _*)).toIndexedSeq
    def bal(lo: Int, hi: Int): Column =
      if (lo == hi) parts(lo)
      else { val m = (lo + hi) / 2; bal(lo, m) || bal(m + 1, hi) }
    bal(0, parts.length - 1)
  }

  /** Routed keys packed into ≤[[ProbeScanGroups]] scan groups:
    * (bp dir names, that group's keys). */
  def scanGroups(ks: Array[(Any, Int)]): Seq[(Seq[String], Array[Any])] = {
    val byBp = ks.groupBy(_._2).toSeq.sortBy(_._1)
    val per = math.max(1, math.ceil(
      byBp.size.toDouble / ProbeScanGroups).toInt)
    byBp.grouped(per).map { grp =>
      (grp.map(g => s"bp=${g._1}"), grp.flatMap(_._2.map(_._1)).toArray)
    }.toSeq
  }

  /** Run `f` with the In→eq-chain parquet conversion threshold
    * raised to [[ProbeChainLen]]: Spark's default (10) pushes larger
    * IN-lists as a native In predicate, whose statistics evaluation
    * is envelope-only and prunes nothing for hash-spread keys. Both
    * index updates plan and MATERIALIZE every probe-dependent frame
    * inside this scope; the previous value is restored after (other
    * queries planned concurrently in the same session would see
    * eq-chains for 11..chainLen-value IN-lists — harmless, pushdown
    * of those is strictly more precise).
    *
    * Scopes are REFCOUNTED per session (r9 ADVICE): two overlapping
    * updates on one SparkSession (two streaming queries on different
    * stores, or a probe planned while another materializes) must not
    * let the first scope's restore drop the threshold under the
    * second — that would silently push its IN-lists as native In,
    * reverting the probe to the O(store) decode this scope exists to
    * fix. Only the LAST scope out restores the value captured by the
    * first scope in, so overlap never leaks the raised value either. */
  def withProbePushdown[T](spark: org.apache.spark.sql.SparkSession)(
      f: => T): T = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    pushdownScopes.synchronized {
      val (depth, prev) = pushdownScopes.getOrElse(spark, (0, None))
      if (depth == 0) {
        val p = spark.conf.getOption(key)
        spark.conf.set(key, math.max(ProbeChainLen,
          p.map(_.toInt).getOrElse(10)).toString)
        pushdownScopes(spark) = (1, p)
      } else pushdownScopes(spark) = (depth + 1, prev)
    }
    try f
    finally pushdownScopes.synchronized {
      val (depth, prev) = pushdownScopes(spark)
      if (depth > 1) pushdownScopes(spark) = (depth - 1, prev)
      else {
        pushdownScopes.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }

  /** session → (live scope count, pre-scope threshold). Guarded by
    * its own monitor; weak-ish by construction (entries removed when
    * the last scope exits, so a closed session leaves nothing). */
  private val pushdownScopes =
    scala.collection.mutable.Map.empty[
      org.apache.spark.sql.SparkSession, (Int, Option[String])]

  // ------------------------------------------------------------------
  // Segment-layout manifest (r9 VERDICT/ADVICE): without it, every
  // probe re-discovered each segment's layout with fs.listStatus per
  // (segment × table) and fs.exists per (segment × bp dir × scan
  // group) — O(segs × P) filesystem METADATA round trips per
  // micro-batch, which on object storage was the measured residual
  // slope of the arrival ladder (3.4→4.3 s/batch). The store root now
  // carries a `_layouts` file mapping segment → table → bp leaf dirs
  // (empty = flat-sorted), maintained by the writers at commit time,
  // so a probe's layout resolution is ONE small-file read.
  //
  // The manifest is a pure CACHE, never authoritative: committedness
  // still comes from `_SUCCESS`/ShadowLog, and a segment missing from
  // the manifest (pre-manifest store, or a crash between a segment's
  // marker and the manifest rewrite) falls back to the old listStatus
  // for that segment only — updates heal such holes at their next
  // commit ([[ensureLayouts]]). Entries are keyed by segment NAME;
  // that is sound because a committed segment's layout is immutable
  // (the one same-name rewrite — a replayed streaming batch — goes
  // through the same flat write path, so its entry stays correct).
  // Writes assume the store's single-maintenance-writer discipline,
  // like every other mutation here; the write is tmp + rename so a
  // torn write parses as absent, not as a wrong layout.
  // ------------------------------------------------------------------

  /** segment → table → bp dir names (empty Seq = flat layout). */
  type SegLayouts = Map[String, Map[String, Seq[String]]]

  private val LayoutsFile = "_layouts"

  /** The manifest, or empty when absent/unreadable (pure cache). */
  def readLayouts(fs: FileSystem, root: Path): SegLayouts = {
    val p = new Path(root, LayoutsFile)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      txt.split('\n').iterator.map(_.split('\t')).collect {
        case Array(seg, table) => (seg, table, Nil)
        case Array(seg, table, dirs) =>
          (seg, table, dirs.split(',').filter(_.nonEmpty).toSeq)
      }.toSeq.groupBy(_._1)
        .map { case (s, ts) => s -> ts.map(t => t._2 -> t._3).toMap }
    }
  }

  /** One listStatus — the fallback a manifest miss costs, and the
    * write-time discovery of which bp dirs a bucketed write created
    * (partitionBy only materializes non-empty buckets). */
  def listBp(fs: FileSystem, tableDir: Path): Seq[String] =
    if (!fs.exists(tableDir)) Nil
    else fs.listStatus(tableDir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("bp=")).sorted.toSeq

  /** A segment table's bp dirs: manifest hit, else one listStatus. */
  def layoutFor(fs: FileSystem, root: Path, layouts: SegLayouts,
      seg: String, table: String): Seq[String] =
    layouts.get(seg).flatMap(_.get(table)).getOrElse(
      listBp(fs, new Path(root, s"$seg/$table")))

  /** Merge `add` into the manifest, prune entries for segments no
    * longer in `live`, write atomically (tmp + rename). Writer-side
    * only — called at segment commit under the store's single-
    * maintenance-writer discipline. */
  def recordLayouts(fs: FileSystem, root: Path,
      add: SegLayouts, live: Seq[String]): Unit = {
    val keep = live.toSet
    val merged = (readLayouts(fs, root) ++ add).filter(e => keep(e._1))
    val tmp = new Path(root, s"$LayoutsFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(merged.toSeq.sortBy(_._1).flatMap { case (s, ts) =>
      ts.toSeq.sortBy(_._1).map { case (t, dirs) =>
        s"$s\t$t\t${dirs.mkString(",")}" }
    }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(new Path(root, LayoutsFile), false)
    fs.rename(tmp, new Path(root, LayoutsFile))
  }

  /** Writer-side read: returns the manifest with any missing live
    * segment healed via listStatus, persisting the heal so the hole
    * is paid once (first update on a pre-manifest store), not on
    * every future probe. */
  def ensureLayouts(fs: FileSystem, root: Path, segs: Seq[String],
      tables: Seq[String]): SegLayouts = {
    val cached = readLayouts(fs, root)
    val missing = segs.filterNot(cached.contains)
    if (missing.isEmpty) cached
    else {
      val healed = cached ++ missing.map { s =>
        s -> tables.map(t =>
          t -> listBp(fs, new Path(root, s"$s/$t"))).toMap
      }
      recordLayouts(fs, root, healed, segs)
      healed
    }
  }
}
