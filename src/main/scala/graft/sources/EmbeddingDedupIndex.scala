package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.functions.Registry
import graft.plans.Materialize._

/** The EMBEDDING twin of [[DedupIndex]]: an incremental near-dup
  * index over vectors — each new batch is cosine-near-dup checked
  * against everything ingested so far without re-scanning the
  * corpus, then committed as an O(batch) segment (sign-LSH band
  * rows + the vectors themselves for verification). Same protocol,
  * same soundness argument: the sign-LSH bucket of a vector is
  * map-side pure (independent of the rest of the corpus), so
  * new×store catches cross-batch pairs, new×new catches same-batch
  * pairs, and the union over updates equals the bulk banded pipeline
  * over the whole corpus — pinned in EmbeddingDedupIndexSpec.
  * Like [[DedupIndex]], every per-batch store READ is a pruned probe
  * ([[IndexLayout]]): batch ids against the id-sorted vecs (first-
  * write-wins check), batch buckets against the bucket-sorted bands,
  * candidate ids against the vecs for cosine verification — O(batch)
  * reads, not O(store), once the store exceeds the batch in row
  * groups.
  *
  * Storage is the same [[SegmentStore]] log with two tables per
  * segment — `bands/` (band, bucket, id) and `vecs/` (id, v, nm) —
  * plus this index's `_meta.json` (threshold + LSH geometry).
  *
  * Geometry note: the BULK path (`Knn.nearDupPairsLsh`) scales its
  * bits with n and caps oversized buckets; an incremental store must
  * pin geometry at creation (signatures across segments must agree),
  * so `bits` here is an explicit knob — size it for the corpus you
  * expect (log2(expected_n/256)). When the corpus outgrows it, the
  * store does NOT need re-ingesting: `vecs/` persists the raw
  * vectors, so [[reband]] migrates the whole index to a new geometry
  * in one read+rewrite under the existing shadow protocol.
  */
object EmbeddingDedupIndex {

  /** `family` versions the HYPERPLANE HASH FAMILY the persisted
    * band/bucket rows were computed with (Knn.hyperplanes). The
    * geometry fields alone cannot catch a code-level family change —
    * r8 flipped XXH64→md5 hyperplanes for the DuckDB oracles, and an
    * unversioned store built pre-flip would have silently probed
    * md5 buckets against XXH64 rows (candidate overlap collapsing to
    * noise, a recall hole with no error). Now a family mismatch is a
    * loud error whose fix is [[reband]] (it recomputes bands from
    * the persisted vecs with the CURRENT family). Stores written
    * before the field existed parse as [[Knn.HyperplaneFamily]]
    * because the field and the md5 family shipped together — no
    * store written by any earlier family-less build persists. */
  case class Meta(threshold: Double, bands: Int, bits: Int,
      maxBucket: Int, family: String = Knn.HyperplaneFamily,
      probeBuckets: Int = 0)

  case class UpdateResult(segment: String, pairs: DataFrame)

  private[graft] val store = new SegmentStore(Seq(
      SegmentTable("bands", "bucket", "band INT, bucket BIGINT, id BIGINT"),
      SegmentTable("vecs", "id", "id BIGINT, v ARRAY<FLOAT>, nm DOUBLE")),
    (fs, root) => refuseRebanding(fs, root, "compacting"))

  /** Near-dup-check `newVecs` against the store AND itself, then
    * commit the batch as a new segment. Returns (a, b, sim) pairs,
    * canonically a < b, every pair cosine-verified at `threshold`.
    * `segmentName` pins identity for replayed streaming batches —
    * the named segment is dropped before the store is read, same
    * contract as [[DedupIndex.update]]. Ids already in the store are
    * dropped (first write wins). */
  def update(spark: SparkSession, root: String, newVecs: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double,
      bands: Int = 10, bits: Int = 6, maxBucket: Int = 500,
      segmentName: Option[String] = None): UpdateResult = {
    val meta = openMeta(spark, root, threshold, bands, bits, maxBucket,
      "updating", "updates")
    store.withWriter(spark, root, meta.probeBuckets, segmentName) { w =>
    val base = w.firstWrites(vecRows(newVecs, idCol, vecCol), "vecs")

    // banding materialized once: candOld, both candNew sides and the
    // segment write all read it (bands x bits dot products per row —
    // the bulk path checkpoints its banded frame for the same reason)
    val newBands = bandRows(base, dim, bands, bits).materialize()
    // bands scan pruned to the batch's touched buckets. Sign-LSH
    // buckets live in [0, 2^bits) per band, so the bucket-only
    // IN-list admits a row whose bucket matches in a DIFFERENT band
    // — at most a bands× over-read of the exact (band, bucket) rows,
    // still O(batch × bucket population), and the join below keys on
    // both columns so correctness is untouched. Tombstoned store rows
    // never enter candidate generation — a retracted id must not
    // appear in new pairs
    val storeBands = w.live(w.probe("bands", newBands.select(col("bucket")),
      "band buckets", newBands))

    // the bulk path's oversized-bucket guard, incremental form: a
    // bucket whose STORE+BATCH population exceeds maxBucket is
    // dropped from candidate generation (hyperplane non-
    // discrimination, not similarity — its quadratic tail would
    // otherwise grow with the store and reproduce the 64x disk
    // death); maxBucket is index geometry, pinned in _meta.json.
    // Census scope: only buckets the BATCH touches matter (every
    // candidate join below is keyed on the batch's buckets), so the
    // store side is semi-joined down to those buckets FIRST — the
    // per-update census costs O(store rows in batch buckets), not a
    // full-store re-aggregation as the store grows. No broadcast
    // hints: the batch-bucket set is batch-sized and the census
    // batch-bucket-bounded, so AQE picks broadcast when they fit and
    // degrades to shuffle joins when a pathological batch doesn't —
    // a forced broadcast() here was an OOM waiting for a big batch
    val batchBuckets = newBands.select("band", "bucket").distinct()
    val storeTouched = storeBands.join(batchBuckets,
      Seq("band", "bucket"), "left_semi")
    val okBuckets = newBands.unionByName(storeTouched)
      .groupBy("band", "bucket").agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBucket).drop("__sz")
    val newB = newBands.join(okBuckets, Seq("band", "bucket"))
    val storeB = storeTouched.join(okBuckets, Seq("band", "bucket"))

    val candOld = newB.as("x").join(storeB.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
    val candNew = newB.as("x").join(newB.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    // cosine verification reads the vecs store pruned to the
    // CANDIDATE ids (batch-driven by construction) — the raw vector
    // payloads were the heaviest part of the r8 full-store read
    val cands = candOld.unionByName(candNew).distinct().materialize()
    val storeVecs = w.probe("vecs",
      cands.select(explode(array(col("a"), col("b"))).as("id")),
      "candidate ids", base)
    val allVecs = storeVecs.unionByName(base)
    val pairs = cands
      .join(allVecs.select(col("id").as("a"), col("v").as("va"),
        col("nm").as("na")), "a")
      .join(allVecs.select(col("id").as("b"), col("v").as("vb"),
        col("nm").as("nb")), "b")
      .select(col("a"), col("b"),
        (Knn.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      // NaN guard: a zero-norm vector (padded/failed encoder row)
      // yields 0/0 = NaN, and Spark orders NaN above every double, so
      // an unguarded >= would assert similarity for it
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .materialize()
    UpdateResult(w.commit("bands" -> newBands, "vecs" -> base), pairs)
    }
  }

  /** Bulk-load vectors into the index WITHOUT near-dup detection —
    * the bootstrap path, mirroring [[DedupIndex.bulkLoad]]: seeding
    * dedup-on-arrival over an already-curated embedding corpus needs
    * the vectors INDEXED (so future arrivals check against them) but
    * not re-verified against themselves. One banding pass + one
    * sorted segment write, O(batch) with no candidate join or
    * verification read; ids already in the store are dropped (same
    * first-write-wins contract), geometry pinned by `_meta.json`,
    * and the committed segment is indistinguishable from an
    * update()'s. The 100 TB seeding recipe: bulkLoad chunks →
    * compactSegments (bucketed layout) → optionally reband to the
    * corpus-sized geometry → stream arrivals. */
  def bulkLoad(spark: SparkSession, root: String, vecs: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double,
      bands: Int = 10, bits: Int = 6, maxBucket: Int = 500): String = {
    val meta = openMeta(spark, root, threshold, bands, bits, maxBucket,
      "loading", "loads")
    store.withWriter(spark, root, meta.probeBuckets, None) { w =>
      val base = w.firstWrites(vecRows(vecs, idCol, vecCol), "vecs")
      w.commit("bands" -> bandRows(base, dim, bands, bits), "vecs" -> base)
    }
  }

  /** (id, v, nm): the vector and its norm, the `vecs` table's rows. */
  private def vecRows(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(Knn.dot(col(vecCol), col(vecCol))).as("nm"))

  /** One (id, band, bucket) sign-LSH row per band of each vector. */
  private def bandRows(vecs: DataFrame, dim: Int, bands: Int,
      bits: Int): DataFrame =
    vecs.select(col("id"), posexplode(array(
        (0 until bands).map(j =>
          Knn.lshBucketSeeded(col("v"), dim, bits, seed = j)): _*))
      .as(Seq("band", "bucket")))

  /** The per-batch store probes — the EXACT reads update() issues,
    * package-private so PlanAuditSpec can pin their pushdown/pruning
    * shape without replicating the code under test. */
  private[graft] def probeBands(spark: SparkSession, root: String,
      segs: Seq[String], p: Int,
      buckets: Option[Array[(Any, Int)]]): DataFrame =
    store.probeTable(spark, root, segs, "bands", p, buckets)

  private[graft] def probeVecs(spark: SparkSession, root: String,
      segs: Seq[String], p: Int,
      ids: Option[Array[(Any, Int)]]): DataFrame =
    store.probeTable(spark, root, segs, "vecs", p, ids)

  /** Migrate the store to a NEW LSH geometry without re-ingesting:
    * the vectors are the source of truth (`vecs/` persists them
    * precisely so detection artifacts stay derivable), so rebanding
    * is one read of the committed vectors + one rewrite of the band
    * rows into a single segment that shadows every prior one —
    * O(store) once, vs O(corpus re-delivery) for a rebuild. The use
    * case is the corpus outgrowing its creation-time `bits` (the
    * log2(n/256) sizing): re-shard the hash layout in place.
    *
    * Crash safety — the danger is a HALF-FLIPPED store (meta says
    * one geometry, visible bands another: updates would sign with
    * one hash and probe buckets built with a different one, a silent
    * recall hole, which is why geometry mismatch is a loud error
    * everywhere else). Protocol:
    *  1. `_reband` intent lands first (carrying the full target
    *     meta); [[update]] REFUSES while it exists;
    *  2. new bands + copied vecs + `_sources` closure + `_SUCCESS`
    *     commit the segment under the shadow protocol
    *     ([[SegmentStore.seal]]);
    *  3. `_meta.json` is overwritten with the target geometry;
    *  4. the intent is cleared and shadowed sources deleted.
    * A crash at any point re-converges by calling reband again with
    * the same target: the intent pins the target (a different one is
    * rejected loudly), every committed generation carries the full
    * vecs, and steps 2–4 are idempotent. Threshold is preserved —
    * reband migrates the hash layout, not the detection contract.
    * Same single-maintenance-writer discipline as compaction. */
  def reband(spark: SparkSession, root: String, bands: Int, bits: Int,
      maxBucket: Int): String = Lease.withWriter(spark, root) {
    Registry.registerAll(spark)
    requireGeometry(bands, bits, maxBucket)
    val fs = SegmentStore.fsOf(spark, root)
    val intentP = new Path(root, Intent)
    val target = readMeta(fs, intentP) match {
      case Some(t) =>
        // crashed reband: the intent is the contract — recovery must
        // finish THAT migration, not start a different one
        require(t.bands == bands && t.bits == bits &&
          t.maxBucket == maxBucket,
          s"a crashed reband to $t is pending at $root; rerun with " +
            s"that geometry to converge (got bands=$bands bits=$bits " +
            s"maxBucket=$maxBucket)")
        t
      case None =>
        val old = readMeta(fs, new Path(root, "_meta.json"))
        require(old.nonEmpty, s"no index at $root")
        // replay-pending guard, BEFORE the intent lands: a streaming
        // batch whose verdicts are not committed WILL be replayed, and
        // the replay deletes + rewrites its named segment. Reband
        // cannot EXCLUDE such a segment (old-geometry bands next to
        // the new generation is the half-migrated recall hole reband
        // exists to prevent), so a FRESH reband refuses — and it must
        // refuse before writing the intent, or the stranded intent
        // would block the very stream recovery that clears the
        // pending state. (The intent-exists recovery branch above
        // proceeds: updates refuse while an intent exists, so no NEW
        // batch can have torn after it landed.)
        val pending = store.replayPending(fs, root,
          store.listing(fs, root)._1)
        require(pending.isEmpty,
          s"cannot reband $root: streaming batch segment(s) " +
            s"${pending.toSeq.sorted.mkString(", ")} are replay-pending " +
            "(verdicts not committed) — their replay would " +
            "rewrite a segment this migration folds away, " +
            "silently dropping the batch. Resume the stream to " +
            "convergence first")
        val t = Meta(old.get.threshold, bands, bits, maxBucket,
          probeBuckets = old.get.probeBuckets)
        writeMeta(fs, intentP, t, overwrite = false)
        t
    }
    val (segs, tombs, shadowed) = store.listing(fs, root)
    require(segs.nonEmpty, s"nothing to reband at $root")
    // materialize BEFORE any write: the vecs read must see the
    // pre-reband store even while this pass rewrites it. Reband is a
    // covering rewrite, so live tombstones are applied AND drained
    // here (their rows never reach the new generation)
    val vecs = store.notTombstoned(spark, root, tombs,
      store.readSegments(spark, root, segs, "vecs")).materialize()
    // loud empty-store guard (r8 ADVICE): committed segments can
    // legally hold zero vector rows (an all-duplicate batch), and a
    // bare head() on them threw an unexplained NoSuchElementException
    val dimRow = vecs.select(size(col("v"))).limit(1).collect()
    require(dimRow.nonEmpty,
      s"cannot reband $root: the committed segments hold zero vector " +
        "rows, so the embedding dimension is underivable — the store " +
        "has nothing to migrate")
    val seg = store.newSegment("-reband")
    // rewritten in the P-way bucketed probe layout — a reband must not
    // cost the store its pruned probes
    val layouts = Map(
      "bands" -> store.writeTable(fs, root, seg, "bands",
        bandRows(vecs, dimRow.head.getInt(0), bands, bits),
        target.probeBuckets),
      "vecs" -> store.writeTable(fs, root, seg, "vecs", vecs,
        target.probeBuckets))
    store.seal(fs, root, seg, layouts, Nil, segs ++ tombs, shadowed)
    writeMeta(fs, new Path(root, "_meta.json"), target, overwrite = true)
    fs.delete(intentP, false)
    (segs ++ tombs).foreach(s => fs.delete(new Path(root, s), true))
    seg
  }

  /** Merge every committed segment into ONE compacted segment — the
    * janitorial pass for a long-lived embedding store (an update per
    * micro-batch accumulates KB-scale segments exactly like
    * [[DedupIndex]]'s log; [[reband]] would re-derive every band from
    * the vectors — a full hash pass a mere file-count cure does not
    * need). See [[SegmentStore.compactSegments]] for the swap, the
    * bucketed layout and the replay-pending guard. Refuses while a
    * reband intent is pending — the reband owns the store until it
    * converges. */
  def compactSegments(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): Option[String] =
    store.compactSegments(spark, root, targetBytes)

  /** Tiered (size-ratio) compaction — the hot-path form the streaming
    * twin's auto-compaction runs; see [[SegmentStore.compactTiered]]. */
  def compactTiered(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      ratio: Option[Double] = None): Option[String] =
    store.compactTiered(spark, root, targetBytes, ratio)

  /** Delete segment directories no reader can see — see
    * [[SegmentStore.vacuumShadowed]]. */
  def vacuumShadowed(spark: SparkSession, root: String): Seq[String] =
    store.vacuumShadowed(spark, root)

  /** All committed, non-retracted vectors. */
  def currentVecs(spark: SparkSession, root: String): DataFrame =
    store.current(spark, root, "vecs")

  /** Committed, unshadowed DATA segments (tombstones separate). */
  def segments(spark: SparkSession, root: String): Seq[String] =
    store.segments(spark, root)

  private[graft] def tombSegments(spark: SparkSession,
      root: String): Seq[String] = store.tombSegments(spark, root)

  /** RETRACT vectors from the index — [[SegmentStore.tombstone]]'s
    * contract; [[reband]], which rewrites everything, also applies
    * and drains live tombstones. */
  def tombstone(spark: SparkSession, root: String,
      ids: DataFrame): Option[String] = store.tombstone(spark, root, ids)

  /** The live (unapplied) tombstoned ids — empty when none. */
  def tombstonedIds(spark: SparkSession, root: String): DataFrame =
    store.tombstonedIds(spark, root)

  /** Reband intent marker: present from the moment a reband starts
    * until its meta flip completes — updates, loads and compactions
    * refuse while it exists, closing the half-flipped-geometry
    * window. */
  private val Intent = "_reband"

  private def refuseRebanding(fs: FileSystem, root: String,
      doing: String): Unit =
    require(!fs.exists(new Path(root, Intent)),
      s"a reband of $root is in progress or crashed — rerun reband " +
        s"to converge the store before $doing")

  /** Loud bounds, enforced when a geometry is about to be pinned:
    * bits <= 0 degenerates every vector into one bucket, and the cap
    * is 16 like the bulk path (Knn.nearDupPairsLsh) — 2^16 buckets per
    * band already discriminates a billion-row store, while an
    * unbounded bits lets the per-band bucket space (and with it any
    * bucket-census frame) outgrow executor memory. */
  private def requireGeometry(bands: Int, bits: Int, maxBucket: Int): Unit = {
    require(bits > 0 && bits <= 16, s"bits must be in [1, 16]: $bits")
    require(bands > 0 && maxBucket > 0,
      s"bands/maxBucket must be positive: $bands/$maxBucket")
  }

  /** The pinned meta (created on first use), checked against the
    * caller's geometry. The reband-intent check runs BEFORE the meta
    * parse (r8 ADVICE): a crash during reband's _meta.json rewrite
    * leaves a torn meta, and parsing it first would report
    * "unreadable meta" instead of the actionable recovery
    * instruction. Bounds are checked only at store CREATION: an
    * existing store is validated against its own pinned meta, so a
    * store legally created under an older bound is not bricked by a
    * tightened one — its migration path is [[reband]]. */
  private def openMeta(spark: SparkSession, root: String,
      threshold: Double, bands: Int, bits: Int, maxBucket: Int,
      doing: String, verb: String): Meta = {
    Registry.registerAll(spark)
    val fs = SegmentStore.fsOf(spark, root)
    refuseRebanding(fs, root, doing)
    val mp = new Path(root, "_meta.json")
    val meta = readMeta(fs, mp).getOrElse {
      requireGeometry(bands, bits, maxBucket)
      fs.mkdirs(new Path(root))
      val init = Meta(threshold, bands, bits, maxBucket,
        probeBuckets = IndexLayout.defaultProbeBuckets(spark))
      writeMeta(fs, mp, init, overwrite = false)
      init
    }
    require(meta.copy(probeBuckets = 0) ==
      Meta(threshold, bands, bits, maxBucket),
      s"index at $root was built with $meta; $verb must match " +
        s"(got threshold=$threshold bands=$bands bits=$bits " +
        s"maxBucket=$maxBucket) — to change geometry, run reband")
    meta
  }

  private def writeMeta(fs: FileSystem, p: Path, m: Meta,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(
      s"""{"threshold":${m.threshold},"bands":${m.bands},"bits":${m.bits},"maxBucket":${m.maxBucket},"family":"${m.family}","probeBuckets":${m.probeBuckets}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def readMeta(fs: FileSystem, at: Path): Option[Meta] =
    SegmentStore.readSmall(fs, at).map { txt =>
      val m = """\{"threshold":([0-9.eE+-]+),"bands":(\d+),"bits":(\d+),"maxBucket":(\d+)(?:,"family":"([A-Za-z0-9._-]+)")?(?:,"probeBuckets":(\d+))?\}"""
        .r.findFirstMatchIn(txt.trim)
        .getOrElse(throw new IllegalStateException(
          s"unreadable embedding-dedup-index meta at $at: $txt"))
      Meta(m.group(1).toDouble, m.group(2).toInt, m.group(3).toInt,
        m.group(4).toInt,
        // family absent = written by the build that introduced md5
        // hyperplanes together with this field (see the Meta scaladoc);
        // probeBuckets absent = pre-bucketed-layout store (flat, 0)
        Option(m.group(5)).getOrElse(Knn.HyperplaneFamily),
        Option(m.group(6)).map(_.toInt).getOrElse(0))
    }
}
