package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.plans.Materialize._

/** Incremental near-duplicate index — dedup-on-arrival for a
  * continuously ingested corpus, the shape a 100 TB training-data
  * pipeline actually runs: each NEW document batch is near-dup
  * checked against everything ingested so far WITHOUT re-scanning
  * the corpus, then folded into a persisted MinHash/LSH segment
  * store (reference behavior this extends: egraph's
  * egraph_detail_model upsert + reindex flow keeps indexes current
  * per write — here the "index" is the LSH band table that makes
  * similarity queries incremental too).
  *
  * Storage is a [[SegmentStore]] log with two tables per segment —
  * `bands/` (band, bucket, id, sz) and `sets/` (id, sh) — plus this
  * index's `_meta.json` (threshold + LSH geometry, written once).
  * Each update writes ONLY the batch's own rows — O(batch) bytes,
  * never O(corpus) (IncrementalAgg rewrites its merged state because
  * that state is vocabulary-sized; a dedup index is corpus-sized, so
  * the log form is the one that survives at scale).
  *
  * Soundness of batch-at-a-time detection: Dedup.signatures is
  * map-side pure (a doc's rows never depend on the rest of the
  * corpus), so for any near-dup pair the LATER batch finds it —
  * new×store catches cross-batch pairs, new×new catches same-batch
  * pairs — and the union over updates equals the bulk
  * Dedup.minhashNearDups over the whole corpus (pinned in
  * DedupIndexSpec).
  *
  * Per-update cost — O(batch) for state, writes AND reads: one
  * batch scan, plus three store probes that each push the batch's
  * keys into the segment scan ([[IndexLayout]] — segments are
  * bucket-/id-sorted with small row groups, so the pushed IN-list
  * prunes to ~one row group per key): the first-write-wins id check
  * (batch ids → sets scan), the band-bucket candidate join (batch
  * buckets → bands scan), and the candidate verification (candidate
  * ids → sets scan). The stored corpus text is never re-read, and
  * once the store exceeds the batch's key count in row groups, probe
  * bytes stop growing with the store.
  */
object DedupIndex {

  /** Index parameters, pinned at creation: detection quality is a
    * property of the STORE (signatures written with one geometry are
    * not comparable to signatures of another), so a mismatched
    * update must fail loudly, not silently degrade recall. The probe
    * layout is store geometry too: `probeBuckets` is pinned from
    * [[IndexLayout.defaultProbeBuckets]] at creation, 0 on stores
    * created before the bucketed layout existed (flat segments). */
  case class Meta(threshold: Double, numHashes: Int, bands: Int,
      probeBuckets: Int = 0)

  case class UpdateResult(segment: String, pairs: DataFrame)

  private[graft] val store = new SegmentStore(Seq(
    SegmentTable("bands", "bucket", "band INT, bucket BIGINT, id BIGINT, sz INT"),
    SegmentTable("sets", "id", "id BIGINT, sh ARRAY<BIGINT>")))

  /** Near-dup-check `newDocs` against the store AND itself, then
    * commit the batch as a new segment. Returns the segment name and
    * the verified pairs (a, b, j) — canonically a < b, exactly the
    * bulk pipeline's contract. The pairs frame is materialized
    * BEFORE the commit so a caller observing the result can't race
    * the batch's own rows into its candidate set twice.
    *
    * `segmentName` pins the segment's identity for REPLAYED batches
    * (a streaming caller names segments by batch id): if the named
    * directory already exists — committed or torn — it is deleted
    * and rewritten (see [[SegmentStore.withWriter]]), so a
    * crash-recovery re-run converges instead of appending the batch's
    * rows twice. An id already in the store is dropped, not
    * re-indexed (first write wins, [[SegmentStore]]'s `firstWrites`):
    * a CHANGED text under the same id is an upsert, which is
    * [[graft.sources.DocumentIngest]] territory, not an append-only
    * dedup log's. */
  def update(spark: SparkSession, root: String, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      numHashes: Int = 30, bands: Int = 6,
      segmentName: Option[String] = None): UpdateResult = {
    val meta = openMeta(spark, root, threshold, numHashes, bands, "updates")
    store.withWriter(spark, root, meta.probeBuckets, segmentName) { w =>
    val sigs = w.firstWrites(
      Dedup.signatures(newDocs, idCol, textCol, numHashes, bands), "sets")
    val newBands = bandRows(sigs)
    val newSets = sigs.select(col("id"), col("sh"))

    // the store's bands scan is pruned to the batch's touched buckets
    // — minhash band buckets are 64-bit hashes, so the bucket IN-list
    // alone is exact. Tombstoned store rows are filtered out of
    // candidate generation (a retracted id must never appear in new
    // pairs); the sets reads need no filter — candidates can no
    // longer name a tombstoned id
    val storeBands = w.live(w.probe("bands", newBands.select(col("bucket")),
      "band buckets", newBands))

    // size-ratio guard (J ≥ t ⇒ min/max set sizes ≥ t) kills
    // impossible pairs before verification, same as the bulk path
    def sizeOk(sa: org.apache.spark.sql.Column,
        sb: org.apache.spark.sql.Column) =
      least(sa, sb).cast("double") / greatest(sa, sb) >= threshold
    // cross-batch candidates: the join is keyed on (band, bucket) and
    // its output volume is driven by the NEW batch's buckets — the
    // store side is only probed where the batch collides
    val candOld = newBands.as("x")
      .join(storeBands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .filter(sizeOk(col("x.sz"), col("y.sz")))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
    // same-batch candidates
    val candNew = newBands.as("x")
      .join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .filter(sizeOk(col("x.sz"), col("y.sz")))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    // distinct(), not the bulk path's first-matching-band when-chain:
    // that trick needs both band ARRAYS on the pair row, which would
    // mean carrying them in the band store; here the candidate stream
    // is batch-driven (not corpus-driven), so one distinct shuffle of
    // it is the cheaper trade. Materialized: the verification join
    // AND the candidate-id collect below both read it
    val cands = candOld.unionByName(candNew).distinct().materialize()
    // verification reads the sets store pruned to the CANDIDATE ids
    // (batch-driven by construction) — the corpus-token-scale
    // ARRAY<BIGINT> payloads were the heaviest part of the r8
    // full-store read
    val storeSets = w.probe("sets",
      cands.select(explode(array(col("a"), col("b"))).as("id")),
      "candidate ids", newSets)
    val allSets = storeSets.unionByName(newSets)
    val pairs = cands
      .join(allSets.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(allSets.select(col("id").as("b"), col("sh").as("shb")), "b")
      .select(col("a"), col("b"),
        round(graft.functions.Registry.jaccardSorted(
          col("sha"), col("shb")), 4).as("j"))
      .filter(col("j") >= threshold)
      .materialize()
    UpdateResult(w.commit("bands" -> newBands, "sets" -> newSets), pairs)
    }
  }

  /** Bulk-load documents into the index WITHOUT near-dup detection —
    * the bootstrap path: seeding dedup-on-arrival over an
    * already-curated corpus needs the corpus INDEXED (so future
    * arrivals check against it) but not re-verified against itself
    * (at 100 TB the historical pair set is either already known or
    * not wanted). One signature pass + one sorted segment write,
    * O(batch) like update() but with no candidate join, no
    * verification read and no pairs; ids already in the store are
    * dropped (same first-write-wins contract), geometry is pinned by
    * the same `_meta.json` check, the writer scope is update()'s, and
    * the committed segment is indistinguishable from an update()'s —
    * a subsequent update() detects against it identically (pinned in
    * DedupIndexSpec). A bootstrap is a few large loads + one
    * compactSegments (which buckets). */
  def bulkLoad(spark: SparkSession, root: String, docs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      numHashes: Int = 30, bands: Int = 6): String = {
    val meta = openMeta(spark, root, threshold, numHashes, bands, "loads")
    store.withWriter(spark, root, meta.probeBuckets, None) { w =>
      val sigs = w.firstWrites(
        Dedup.signatures(docs, idCol, textCol, numHashes, bands), "sets")
      w.commit("bands" -> bandRows(sigs),
        "sets" -> sigs.select(col("id"), col("sh")))
    }
  }

  /** One (id, sz, band, bucket) row per band of each signature row. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("sz"),
      posexplode(col("ba")).as(Seq("band", "bucket")))

  /** The per-batch store probes — the EXACT reads update() issues,
    * exposed package-private so PlanAuditSpec can pin their shape
    * (per-bucket scans, PushedFilters eq-chains, page-level pruning)
    * without replicating the code under test. */
  private[graft] def probeBands(spark: SparkSession, root: String,
      segs: Seq[String], p: Int,
      buckets: Option[Array[(Any, Int)]]): DataFrame =
    store.probeTable(spark, root, segs, "bands", p, buckets)

  private[graft] def probeSets(spark: SparkSession, root: String,
      segs: Seq[String], p: Int,
      ids: Option[Array[(Any, Int)]]): DataFrame =
    store.probeTable(spark, root, segs, "sets", p, ids)

  /** All committed, non-retracted band rows (band, bucket, id, sz);
    * empty when the store is new. */
  def currentBands(spark: SparkSession, root: String): DataFrame =
    store.current(spark, root, "bands")

  /** All committed, non-retracted shingle sets (id, sh); empty when
    * the store is new. */
  def currentSets(spark: SparkSession, root: String): DataFrame =
    store.current(spark, root, "sets")

  /** Committed, unshadowed DATA segments (tombstone segments are
    * listed by [[tombSegments]]). A compacted segment's `_sources`
    * file names the segments it replaced; those stay EXCLUDED even if
    * their directories still exist (see [[SegmentStore]]). */
  def segments(spark: SparkSession, root: String): Seq[String] =
    store.segments(spark, root)

  /** Committed, unshadowed TOMBSTONE segments — see [[tombstone]]. */
  private[graft] def tombSegments(spark: SparkSession,
      root: String): Seq[String] = store.tombSegments(spark, root)

  /** RETRACT documents from the index (opt-out and licensing
    * deletions): see [[SegmentStore.tombstone]] for the contract.
    * Returns the segment name, or None for an empty id set. */
  def tombstone(spark: SparkSession, root: String,
      ids: DataFrame): Option[String] = store.tombstone(spark, root, ids)

  /** The live (unapplied) tombstoned ids — empty when none. */
  def tombstonedIds(spark: SparkSession, root: String): DataFrame =
    store.tombstonedIds(spark, root)

  /** Merge every committed segment into ONE compacted segment — see
    * [[SegmentStore.compactSegments]] for the crash-safe swap, the
    * replay-pending guard and `force` (the migration path for layout
    * changes such as `graft.dedup.pageRows`). */
  def compactSegments(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      force: Boolean = false): Option[String] =
    store.compactSegments(spark, root, targetBytes, force)

  /** Tiered (size-ratio) compaction — the hot-path form
    * [[graft.streaming.StreamingDedup]]'s auto-compaction runs; see
    * [[SegmentStore.compactTiered]]. `ratio` defaults from
    * `graft.dedup.compactRatio` (4.0). */
  def compactTiered(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      ratio: Option[Double] = None): Option[String] =
    store.compactTiered(spark, root, targetBytes, ratio)

  /** Delete segment directories no reader can see — see
    * [[SegmentStore.vacuumShadowed]]. */
  def vacuumShadowed(spark: SparkSession, root: String): Seq[String] =
    store.vacuumShadowed(spark, root)

  /** The pinned meta (created on first use), checked against the
    * caller's geometry; `verb` names the caller in the error. */
  private def openMeta(spark: SparkSession, root: String,
      threshold: Double, numHashes: Int, bands: Int, verb: String): Meta = {
    val meta = readOrInitMeta(spark, root, Meta(threshold, numHashes,
      bands, IndexLayout.defaultProbeBuckets(spark)))
    require((meta.threshold, meta.numHashes, meta.bands) ==
      ((threshold, numHashes, bands)),
      s"index at $root was built with $meta; $verb must match " +
        s"(got threshold=$threshold numHashes=$numHashes bands=$bands)")
    meta
  }

  private def readOrInitMeta(spark: SparkSession, root: String,
      init: Meta): Meta = {
    val fs = SegmentStore.fsOf(spark, root)
    val mp = new Path(root, "_meta.json")
    SegmentStore.readSmall(fs, mp) match {
      case Some(txt) =>
        // numeric fields, fixed order (written below) — a full JSON
        // parser dependency is not warranted for a marker file. The
        // threshold charset admits scientific notation: Scala renders
        // e.g. 1.0E-4 in exponent form, and a store created with such
        // a threshold must stay readable. probeBuckets optional:
        // absent = a store created before the bucketed probe layout
        // existed = flat segments (0). oph: written only by builds
        // that had the opt-in one-permutation signatures
        val m = """\{"threshold":([0-9.eE+-]+),"numHashes":(\d+),"bands":(\d+)(?:,"probeBuckets":(\d+))?(?:,"oph":(true|false))?\}"""
          .r.findFirstMatchIn(txt.trim)
          .getOrElse(throw new IllegalStateException(
            s"unreadable dedup-index meta at $mp: $txt"))
        if (Option(m.group(5)).contains("true"))
          throw new IllegalStateException(
            s"dedup index at $root was built with one-permutation " +
              "MinHash signatures (\"oph\":true), which this build no " +
              "longer computes — probing it with classic signatures " +
              "would silently miss near-dups. Rebuild the index into a " +
              "fresh root (bulkLoad the corpus, then compactSegments)")
        Meta(m.group(1).toDouble, m.group(2).toInt, m.group(3).toInt,
          Option(m.group(4)).map(_.toInt).getOrElse(0))
      case None =>
        fs.mkdirs(new Path(root))
        val out = fs.create(mp, false) // fail on concurrent create
        try out.write(
          s"""{"threshold":${init.threshold},"numHashes":${init.numHashes},"bands":${init.bands},"probeBuckets":${init.probeBuckets}}"""
            .getBytes("UTF-8"))
        finally out.close()
        init
    }
  }
}
