package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sources.DedupIndex

/** Incremental dedup index: batch-at-a-time detection over the
  * segment store equals the bulk pipeline over the whole corpus,
  * commits are crash-safe, and geometry is pinned. */
class DedupIndexSpec extends AnyFunSuite with SparkFixture {

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("three incremental batches find exactly the bulk pipeline's pairs") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-index").toString
    // three disjoint id-range batches — near-dup pairs in this corpus
    // exist both inside and across these ranges (the sf0.001 corpus
    // plants ~12% near-dups at random id distance)
    val batches = Seq(
      docs.filter(col("doc_id") < 50),
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 110),
      docs.filter(col("doc_id") >= 110))
    val found = batches.flatMap { b =>
      val r = DedupIndex.update(spark, root, b, "doc_id", "text",
        threshold = 0.8)
      pairSet(r.pairs)
    }.toSet
    val bulk = pairSet(
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
    assert(bulk.nonEmpty, "corpus must contain near-dups for this test")
    assert(found == bulk,
      s"incremental != bulk: missing=${(bulk -- found).take(5)} " +
        s"extra=${(found -- bulk).take(5)}")
    // three committed segments, each O(batch): store rows == corpus docs
    assert(DedupIndex.segments(spark, root).size == 3)
    assert(DedupIndex.currentSets(spark, root).count() == docs.count())
  }

  test("a within-batch duplicate id is indexed once, no self-pairs") {
    // at-least-once sources can redeliver INSIDE one micro-batch; the
    // store left-anti only filters prior segments, so without the
    // batch-local dropDuplicates the id's rows land twice in the
    // append-only segment (r7 ADVICE)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-index-dup").toString
    val batch = docs.limit(40).unionByName(docs.limit(15)) // 15 ids twice
    val r = DedupIndex.update(spark, root, batch, "doc_id", "text",
      threshold = 0.8)
    assert(DedupIndex.currentSets(spark, root).count() == 40,
      "each id exactly once in the segment")
    assert(r.pairs.filter(col("a") === col("b")).isEmpty,
      "no degenerate self-pairs")
    // the duplicate must also not fan out future verdicts: re-check
    // the same 15 docs under fresh ids — a store id indexed twice
    // would match its sets row twice and emit each (a, b) verdict
    // twice (candidate distinct() cannot dedup a sets-join fan-out)
    val probe = docs.limit(15).withColumn("doc_id",
      col("doc_id") + 1000000L)
    val p2 = DedupIndex.update(spark, root, probe, "doc_id", "text",
      threshold = 0.8).pairs
    assert(p2.filter(col("b") >= 1000000L).count() > 0,
      "probes are exact copies — pairs must exist")
    assert(p2.groupBy("a", "b").count().filter(col("count") > 1).isEmpty,
      "a store id indexed twice would emit duplicate verdict rows")
  }

  test("uncommitted segment (no _SUCCESS) is invisible to readers") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 30)
    val root = Files.createTempDirectory("dedup-index-crash").toString
    DedupIndex.update(spark, root, docs, "doc_id", "text", threshold = 0.8)
    val committed = DedupIndex.currentSets(spark, root).count()
    // simulate a crash mid-write: parquet lands, marker never does
    val orphan = s"$root/seg-9999999999999-0001"
    DedupIndex.currentSets(spark, root).write.parquet(s"$orphan/sets")
    DedupIndex.currentBands(spark, root).write.parquet(s"$orphan/bands")
    assert(DedupIndex.segments(spark, root).size == 1)
    assert(DedupIndex.currentSets(spark, root).count() == committed)
  }

  test("segment compaction: content identical, fewer files, detection " +
      "unchanged, crashed source-cleanup invisible then vacuumable") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-index-compact").toString
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def parquetFiles(): Int = {
      val it = fs.listFiles(new Path(root), true); var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    // a streaming-shaped store: many tiny segments (one per batch)
    val probe = docs.filter(col("doc_id") >= 150)
    (0 until 5).foreach { i =>
      DedupIndex.update(spark, root,
        docs.filter(col("doc_id") % 5 === i && col("doc_id") < 150),
        "doc_id", "text", threshold = 0.8)
    }
    val bandsBefore = DedupIndex.currentBands(spark, root)
      .collect().map(_.toSeq).toSet
    val setsBefore = DedupIndex.currentSets(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val filesBefore = parquetFiles()

    val seg = DedupIndex.compactSegments(spark, root)
    assert(seg.nonEmpty)
    assert(DedupIndex.segments(spark, root) == Seq(seg.get),
      "compacted store must expose exactly the merged segment")
    assert(DedupIndex.currentBands(spark, root)
      .collect().map(_.toSeq).toSet == bandsBefore)
    assert(DedupIndex.currentSets(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      == setsBefore)
    assert(parquetFiles() < filesBefore,
      s"compaction must shrink the file count (was $filesBefore)")
    // detection over the compacted store == over an uncompacted twin
    val twin = Files.createTempDirectory("dedup-index-twin").toString
    (0 until 5).foreach { i =>
      DedupIndex.update(spark, twin,
        docs.filter(col("doc_id") % 5 === i && col("doc_id") < 150),
        "doc_id", "text", threshold = 0.8)
    }
    val pc = pairSet(DedupIndex.update(spark, root, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    val pu = pairSet(DedupIndex.update(spark, twin, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    assert(pc.nonEmpty && pc == pu,
      "probe batch must find identical pairs on compacted vs raw store")

    // crashed cleanup: a committed source dir that compaction failed
    // to delete is SHADOWED (readers unaffected), then vacuumable
    val before = DedupIndex.currentSets(spark, root).count()
    val relic = "seg-0000000000000-0000"
    DedupIndex.currentSets(spark, root).limit(3)
      .write.parquet(s"$root/$relic/sets")
    DedupIndex.currentBands(spark, root).limit(3)
      .write.parquet(s"$root/$relic/bands")
    fs.create(new Path(root, s"$relic/_SUCCESS"), true).close()
    val cur = {
      val in = fs.open(new Path(root, s"${seg.get}/_sources"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val out = fs.create(new Path(root, s"${seg.get}/_sources"), true)
    try out.write(s"$cur\n$relic".getBytes("UTF-8")) finally out.close()
    assert(DedupIndex.currentSets(spark, root).count() == before,
      "shadowed relic must be invisible to readers")
    // transitive shadowing: a SECOND compaction deletes the first
    // compaction target — whose _sources were the only mention of the
    // relic — and must carry the shadow closure forward, or the relic
    // resurrects and double-counts
    assert(DedupIndex.segments(spark, root).size == 2) // compacted + probe
    assert(DedupIndex.compactSegments(spark, root).nonEmpty)
    assert(!fs.exists(new Path(root, seg.get)),
      "second compaction should have deleted the first target")
    assert(DedupIndex.currentSets(spark, root).count() == before,
      "relic must STAY shadowed after its shadowing segment is compacted away")
    val dead = DedupIndex.vacuumShadowed(spark, root)
    assert(dead.contains(relic))
    assert(!fs.exists(new Path(root, relic)))
    assert(DedupIndex.currentSets(spark, root).count() == before)
  }

  test("re-ingesting an already-indexed id is dropped: no duplicate " +
      "store rows, no (id,id) self-pairs, first write wins") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-index-reingest").toString
    val first = docs.filter(col("doc_id") < 80)
    DedupIndex.update(spark, root, first, "doc_id", "text", threshold = 0.8)
    // second batch overlaps the first (an at-least-once source
    // re-delivering) and adds genuinely new docs
    val second = docs.filter(col("doc_id") >= 40 && col("doc_id") < 120)
    val res = DedupIndex.update(spark, root, second, "doc_id", "text",
      threshold = 0.8)
    assert(DedupIndex.currentSets(spark, root).count() ==
      docs.filter(col("doc_id") < 120).count(),
      "overlapping ids must not duplicate store rows")
    assert(res.pairs.filter(col("a") === col("b")).count() == 0,
      "re-ingested ids must not emit self-pairs")
    // detection is unharmed: the full incremental pair set still
    // equals the bulk pipeline over the distinct corpus
    val bulk = pairSet(Dedup.minhashNearDups(
      docs.filter(col("doc_id") < 120), "doc_id", "text", threshold = 0.8))
    val firstPairs = pairSet(Dedup.minhashNearDups(
      first, "doc_id", "text", threshold = 0.8))
    assert(firstPairs.union(pairSet(res.pairs)) == bulk)
  }

  test("bulkLoad bootstraps the index without pair detection; a " +
      "subsequent update detects against it exactly (r9)") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-index-bulk").toString
    val first = docs.filter(col("doc_id") < 110)
    val second = docs.filter(col("doc_id") >= 110)
    DedupIndex.bulkLoad(spark, root, first, "doc_id", "text",
      threshold = 0.8)
    assert(DedupIndex.currentSets(spark, root).count() == first.count(),
      "bulkLoad must index every doc")
    // an overlapping re-load is first-write-wins like update()
    DedupIndex.bulkLoad(spark, root,
      docs.filter(col("doc_id") < 30), "doc_id", "text", threshold = 0.8)
    assert(DedupIndex.currentSets(spark, root).count() == first.count(),
      "re-loaded ids must not duplicate store rows")
    // detection over the bootstrapped store: the update's verdicts
    // are exactly the bulk pipeline's pairs touching the second half
    val res = DedupIndex.update(spark, root, second, "doc_id", "text",
      threshold = 0.8)
    val secondIds = second.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val expected = pairSet(
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
      .filter(p => secondIds(p._1) || secondIds(p._2))
    assert(expected.nonEmpty, "corpus must contain cross-half pairs")
    assert(pairSet(res.pairs) == expected,
      "update over a bulkLoaded store must equal the bulk pipeline's " +
        "pairs that involve the new batch")
  }

  test("layout manifest: one _layouts read resolves every segment's " +
      "bp dirs; a missing/stale manifest only costs fallbacks (r10)") {
    import org.apache.hadoop.fs.Path
    import graft.sources.IndexLayout
    spark.conf.set("graft.dedup.blockBytes", (64 * 1024).toString)
    spark.conf.set("graft.dedup.probeBuckets", "8")
    try {
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "text").localCheckpoint()
      val root = Files.createTempDirectory("dedup-index-manifest").toString
      val rootP = new Path(root)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      DedupIndex.update(spark, root, docs.filter(col("doc_id") < 100),
        "doc_id", "text", threshold = 0.8)
      DedupIndex.update(spark, root,
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
        "doc_id", "text", threshold = 0.8)
      assert(DedupIndex.compactSegments(spark, root).nonEmpty)
      // manifest covers exactly the live segments and REFLECTS each
      // one's true layout (fresh updates flat, the compacted segment's
      // bp dirs exactly the ones on disk)
      val segs = DedupIndex.segments(spark, root)
      val lay = IndexLayout.readLayouts(fs, rootP)
      assert(lay.keySet == segs.toSet,
        s"manifest ${lay.keySet} != live $segs")
      for (s <- segs; t <- Seq("bands", "sets")) {
        val real = IndexLayout.listBp(fs, new Path(root, s"$s/$t"))
        assert(lay(s)(t) == real,
          s"manifest for $s/$t says ${lay(s)(t)}, disk has $real")
      }
      // detection with the manifest == detection without it (deleted
      // manifest = pure-cache contract: fallback listings, same rows)
      val probe = docs.filter(col("doc_id") >= 150)
      val withManifest = pairSet(DedupIndex.update(spark, root, probe,
        "doc_id", "text", threshold = 0.8).pairs)
      val twin = Files.createTempDirectory("dedup-index-manifest2").toString
      DedupIndex.update(spark, twin, docs.filter(col("doc_id") < 100),
        "doc_id", "text", threshold = 0.8)
      DedupIndex.update(spark, twin,
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
        "doc_id", "text", threshold = 0.8)
      assert(DedupIndex.compactSegments(spark, twin).nonEmpty)
      val twinP = new Path(twin)
      val tfs = twinP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      tfs.delete(new Path(twin, "_layouts"), false)
      val withoutManifest = pairSet(DedupIndex.update(spark, twin, probe,
        "doc_id", "text", threshold = 0.8).pairs)
      assert(withManifest == withoutManifest && withManifest.nonEmpty)
      // ...and the update HEALED the deleted manifest (writer-side
      // ensureLayouts), so the hole is paid once, not per probe
      assert(IndexLayout.readLayouts(tfs, twinP).nonEmpty,
        "update over a manifest-less store must heal the manifest")
    } finally {
      spark.conf.unset("graft.dedup.blockBytes")
      spark.conf.unset("graft.dedup.probeBuckets")
    }
  }

  test("tieredPick policy: tail folds, base survives until runs " +
      "beneath reach 1/ratio of it, no straggler stranding (r10)") {
    import graft.sources.Compaction.tieredPick
    // fresh micro-batch tail folds together; store-sized base excluded
    assert(tieredPick(Seq("b" -> 1400L, "t1" -> 10L, "t2" -> 10L,
      "t3" -> 10L, "t4" -> 10L), 4.0).toSet == Set("t1", "t2", "t3", "t4"))
    // one fold + base, tail sum far under base/ratio: no-op
    assert(tieredPick(Seq("b" -> 1400L, "f" -> 40L), 4.0).isEmpty)
    // a tiny straggler must not strand the runs above it (the naive
    // stop-at-first-violation rule would return Nil here forever,
    // since the straggler never grows)
    assert(tieredPick(Seq("tiny" -> 1L, "r1" -> 120L, "r2" -> 120L),
      2.0).toSet == Set("tiny", "r1", "r2"))
    // convergence: once everything beneath the base sums past
    // base/ratio, the base itself is absorbed
    assert(tieredPick(Seq("b" -> 1400L, "f" -> 400L, "g" -> 400L),
      2.0).toSet == Set("b", "f", "g"))
    // fewer than 2 qualifying => Nil
    assert(tieredPick(Seq("solo" -> 5L), 4.0).isEmpty)
    assert(tieredPick(Nil, 4.0).isEmpty)
  }

  test("tiered compaction folds the batch tail, never the store-sized " +
      "base on the hot path; content and detection unchanged (r10)") {
    import org.apache.hadoop.fs.Path
    // synthetic corpus large enough that segment BYTES track rows —
    // at sf0.001 scale parquet's per-file floor (~4 KB) outweighs the
    // data and four tiny segments weigh more than a compacted base
    def mkDocs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"w$j-"), col("id"))): _*).as("text"))
    val root = Files.createTempDirectory("dedup-index-tiered").toString
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def bytesOf(seg: String): Long =
      fs.getContentSummary(new Path(root, seg)).getLength
    // a store-sized base (one compacted segment)...
    DedupIndex.update(spark, root, mkDocs(0, 4000),
      "doc_id", "text", threshold = 0.8)
    DedupIndex.update(spark, root, mkDocs(4000, 8000),
      "doc_id", "text", threshold = 0.8)
    assert(DedupIndex.compactSegments(spark, root).nonEmpty)
    val base = DedupIndex.segments(spark, root).head
    // ...plus a tail of small per-batch segments
    for (i <- 0 until 4)
      DedupIndex.update(spark, root,
        mkDocs(8000 + 20 * i, 8020 + 20 * i),
        "doc_id", "text", threshold = 0.8)
    val setsBefore = DedupIndex.currentSets(spark, root).count()
    val tail = DedupIndex.segments(spark, root).filterNot(_ == base)
    assert(4.0 * tail.map(bytesOf).sum < bytesOf(base),
      s"spec geometry broken: base ${bytesOf(base)} vs tail ${
        tail.map(bytesOf).sum}")
    val folded = DedupIndex.compactTiered(spark, root)
    assert(folded.nonEmpty)
    val segsAfter = DedupIndex.segments(spark, root)
    assert(segsAfter.contains(base),
      s"tiered fold must leave the store-sized base alone: $segsAfter")
    assert(segsAfter.size == 2,
      s"tail must fold into one segment: $segsAfter")
    assert(DedupIndex.currentSets(spark, root).count() == setsBefore,
      "tiered fold must preserve content")
    // nothing left in the fold's size band => a second pass is a no-op
    assert(DedupIndex.compactTiered(spark, root).isEmpty,
      "tiered pass must not cascade into the base prematurely")
    // detection is unchanged by the partial fold: probe with exact
    // copies of indexed docs under fresh ids — every probe doc must
    // pair with its original identically on both stores
    val probe = mkDocs(0, 60).withColumn("doc_id",
      col("doc_id") + 1000000L)
    val twin = Files.createTempDirectory("dedup-index-tiered2").toString
    DedupIndex.update(spark, twin, mkDocs(0, 8080),
      "doc_id", "text", threshold = 0.8)
    val pt = pairSet(DedupIndex.update(spark, root, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    val pu = pairSet(DedupIndex.update(spark, twin, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    assert(pt == pu && pt.nonEmpty,
      "probe over the tiered store must equal a one-segment twin")
    // once the runs beneath the base sum past base/ratio, the base IS
    // absorbed — tiered compaction converges instead of stratifying
    // forever (each row still rewritten only O(log) times)
    DedupIndex.update(spark, root, mkDocs(20000, 26000),
      "doc_id", "text", threshold = 0.8)
    assert(DedupIndex.compactTiered(spark, root,
      ratio = Some(2.0)).nonEmpty)
    assert(!DedupIndex.segments(spark, root).contains(base),
      "runs grown past base/ratio must absorb the base")
    assert(DedupIndex.segments(spark, root).size == 1)
  }

  test("tombstone retraction: a retracted id vanishes from readers " +
      "and new pairs, re-arrivals are dropped while live, a covering " +
      "compaction applies and drains it (r10)") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-index-tomb").toString
    val store = docs.filter(col("doc_id") < 150)
    DedupIndex.update(spark, root, store.filter(col("doc_id") < 75),
      "doc_id", "text", threshold = 0.8)
    DedupIndex.update(spark, root, store.filter(col("doc_id") >= 75),
      "doc_id", "text", threshold = 0.8)
    // pick a doc that HAS a near-dup partner in the store, so the
    // retraction is observable in the pair stream
    val probe = docs.filter(col("doc_id") >= 150)
    val twinAll = Files.createTempDirectory("dedup-tomb-twinall").toString
    DedupIndex.update(spark, twinAll, store, "doc_id", "text",
      threshold = 0.8)
    val probePairsAll = pairSet(DedupIndex.update(spark, twinAll, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    val cross = probePairsAll.find(p => p._1 < 150 || p._2 < 150)
    assert(cross.nonEmpty, "fixture must have cross probe-store pairs")
    val victim = cross.get match {
      case (a, b) => if (a < 150) a else b // the store-side partner
    }
    assert(victim < 150)
    // retract it
    assert(DedupIndex.tombstone(spark, root,
      Seq(victim).toDF("doc_id")).nonEmpty)
    // invisible to readers immediately
    assert(DedupIndex.currentSets(spark, root)
      .filter(col("id") === victim).isEmpty)
    assert(DedupIndex.currentBands(spark, root)
      .filter(col("id") === victim).isEmpty)
    // never appears in new pairs: probing equals a store REBUILT
    // without the victim
    val twin = Files.createTempDirectory("dedup-tomb-twin").toString
    DedupIndex.update(spark, twin,
      store.filter(col("doc_id") =!= victim), "doc_id", "text",
      threshold = 0.8)
    val pTomb = pairSet(DedupIndex.update(spark, root, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    val pTwin = pairSet(DedupIndex.update(spark, twin, probe,
      "doc_id", "text", threshold = 0.8).pairs)
    assert(!pTomb.exists(p => p._1 == victim || p._2 == victim),
      "a tombstoned id must never appear in new pairs")
    assert(pTomb == pTwin,
      "detection over the tombstoned store must equal the rebuilt-" +
        s"without-the-doc store: ${pTomb.diff(pTwin).take(3)} / ${
          pTwin.diff(pTomb).take(3)}")
    // a re-arrival of the id while the tombstone is live is dropped
    val re = DedupIndex.update(spark, root,
      docs.filter(col("doc_id") === victim), "doc_id", "text",
      threshold = 0.8)
    assert(re.pairs.isEmpty)
    assert(DedupIndex.currentSets(spark, root)
      .filter(col("id") === victim).isEmpty,
      "a live-tombstoned id must not be re-indexed")
    // a PARTIAL (tiered) fold keeps the tombstone: rows may survive
    // in unmerged segments. Then a covering compaction applies it
    // physically — content equals the twin's, tombstone drained.
    assert(DedupIndex.tombSegments(spark, root).size == 1)
    val full = DedupIndex.compactSegments(spark, root)
    assert(full.nonEmpty)
    assert(DedupIndex.tombSegments(spark, root).isEmpty,
      "a covering compaction must drain the applied tombstone")
    assert(DedupIndex.currentSets(spark, root)
      .filter(col("id") === victim).isEmpty,
      "the applied tombstone's rows must be physically gone")
    // content check against the twin (same docs + same probe batch,
    // minus the victim): sets agree row-for-row
    val rootSets = DedupIndex.currentSets(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val twinSets = DedupIndex.currentSets(spark, twin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(rootSets == twinSets,
      "compacted-with-tombstone content must equal rebuilt-without")
    // after draining, the id may legitimately return (re-consent)
    DedupIndex.update(spark, root,
      docs.filter(col("doc_id") === victim), "doc_id", "text",
      threshold = 0.8)
    assert(DedupIndex.currentSets(spark, root)
      .filter(col("id") === victim).count() == 1,
      "after the tombstone is applied and drained, re-ingestion is " +
        "a fresh document")
  }

  test("embedding tombstone retraction mirrors the text index (r10)") {
    import spark.implicits._
    import graft.sources.EmbeddingDedupIndex
    val dim = 16
    val rnd = new scala.util.Random(7)
    val bases = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = bases.map { case (id, v) =>
      (100L + id, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)) }
    val corpus = (bases ++ dups).toDF("vec_id", "embedding")
      .localCheckpoint()
    val root = Files.createTempDirectory("emb-tomb").toString
    val th = 0.9
    EmbeddingDedupIndex.update(spark, root,
      corpus.filter(col("vec_id") < 100), "vec_id", "embedding", dim, th,
      bits = 5)
    // retract vec 3, then ingest its near-copy: no pair may surface
    assert(EmbeddingDedupIndex.tombstone(spark, root,
      Seq(3L).toDF("vec_id")).nonEmpty)
    val res = EmbeddingDedupIndex.update(spark, root,
      corpus.filter(col("vec_id") >= 100), "vec_id", "embedding", dim, th,
      bits = 5)
    assert(!res.pairs.select("a", "b").collect()
      .exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L),
      "a tombstoned vector must never appear in new pairs")
    assert(EmbeddingDedupIndex.currentVecs(spark, root)
      .filter(col("id") === 3L).isEmpty)
    // covering compaction applies + drains; reband would too
    assert(EmbeddingDedupIndex.compactSegments(spark, root).nonEmpty)
    assert(EmbeddingDedupIndex.tombSegments(spark, root).isEmpty)
    assert(EmbeddingDedupIndex.currentVecs(spark, root).count()
      == corpus.count() - 1)
  }

  test("manifest resolution is O(1) metadata calls, independent of " +
      "segment count; only the deleted-manifest fallback pays O(segs)") {
    // The r10 verdict's gap: locally the manifest is wall-clock-
    // invisible (local listStatus is ~free), so the claim it exists
    // for — ONE metadata read per probe instead of O(segments ×
    // tables) directory walks, the dominating term on object storage
    // — had no regression pin. This counts the actual filesystem
    // calls through a recording FileSystem.
    import org.apache.hadoop.fs.Path
    import graft.sources.IndexLayout
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    val base = Files.createTempDirectory("cfs-manifest").toString
    val fs = new Path(s"cfs:$base").getFileSystem(hconf)
    val tables = Seq("bands", "sets")
    def mkStore(n: Int): (Path, Seq[String]) = {
      val root = new Path(s"cfs:$base/store$n")
      val segs = (1 to n).map(i => f"seg-$i%03d")
      for (s <- segs; t <- tables; d <- Seq("bp=0", "bp=1"))
        fs.mkdirs(new Path(root, s"$s/$t/$d"))
      IndexLayout.recordLayouts(fs, root, segs.map(s =>
        s -> tables.map(_ -> Seq("bp=0", "bp=1")).toMap).toMap, segs)
      (root, segs)
    }
    // the probe-side resolution: one readLayouts + layoutFor for
    // every (segment, table) — exactly what probeTable issues
    def resolve(root: Path, segs: Seq[String]): (Int, Int, Int) = {
      CountingFileSystem.reset()
      val lay = IndexLayout.readLayouts(fs, root)
      for (s <- segs; t <- tables)
        assert(IndexLayout.layoutFor(fs, root, lay, s, t)
          == Seq("bp=0", "bp=1"))
      (CountingFileSystem.count("open", _.endsWith("_layouts")),
        CountingFileSystem.count("listStatus", _ => true),
        CountingFileSystem.count("getFileStatus", _ => true))
    }
    val (r4, s4) = mkStore(4)
    val (r16, s16) = mkStore(16)
    val c4 = resolve(r4, s4)
    val c16 = resolve(r16, s16)
    assert(c4 == c16,
      s"manifest resolution must not scale with segments: 4segs=$c4 16segs=$c16")
    assert(c4._1 == 1, s"exactly one manifest read per probe, got ${c4._1}")
    assert(c4._2 == 0, s"no directory listings on the manifest path, got ${c4._2}")
    // fallback: deleting the manifest costs one listing (plus one
    // existence check) per (segment, table) — O(segs), the cost the
    // manifest exists to avoid, and ONLY then
    fs.delete(new Path(r16, "_layouts"), false)
    CountingFileSystem.reset()
    val lay = IndexLayout.readLayouts(fs, r16)
    for (s <- s16; t <- tables)
      assert(IndexLayout.layoutFor(fs, r16, lay, s, t)
        == Seq("bp=0", "bp=1"))
    assert(CountingFileSystem.count("open", _.endsWith("_layouts")) == 0)
    assert(CountingFileSystem.count("listStatus", _ => true)
      == s16.size * tables.size,
      "fallback pays exactly one listing per (segment, table)")
  }

  test("the real probe reads the manifest once and never lists a " +
      "bucketed segment's table dirs; fallback does, rows identical") {
    import org.apache.hadoop.fs.Path
    import graft.sources.IndexLayout
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    spark.conf.set("graft.dedup.probeBuckets", "8")
    // tiny block budget so compaction picks the bucketed layout at
    // test corpus size (bucketing bar = probeBuckets × blockBytes)
    spark.conf.set("graft.dedup.blockBytes", "1024")
    try {
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "text").localCheckpoint()
      val root = s"cfs:${Files.createTempDirectory("cfs-probe")}/store"
      val rootP = new Path(root)
      val fs = rootP.getFileSystem(hconf)
      DedupIndex.update(spark, root, docs.filter(col("doc_id") < 60),
        "doc_id", "text", threshold = 0.8)
      DedupIndex.update(spark, root,
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 120),
        "doc_id", "text", threshold = 0.8)
      assert(DedupIndex.compactSegments(spark, root).nonEmpty)
      DedupIndex.update(spark, root,
        docs.filter(col("doc_id") >= 120 && col("doc_id") < 140),
        "doc_id", "text", threshold = 0.8) // flat tail after compaction
      val segs = DedupIndex.segments(spark, root)
      val lay0 = IndexLayout.readLayouts(fs, rootP)
      val bucketed = segs.filter(s => lay0(s)("bands").nonEmpty)
      assert(bucketed.nonEmpty, "need a compacted (bucketed) segment")
      def isBucketedTableDir(p: String) =
        bucketed.exists(s => p.endsWith(s"$s/bands") || p.endsWith(s"$s/sets"))
      // a handful of real band buckets as the probe keys
      val bkDf = DedupIndex.currentBands(spark, root)
        .select("bucket").distinct().limit(5).localCheckpoint()
      val keys = IndexLayout.collectKeys(bkDf, 8, 1000, "test buckets")
      assert(keys.exists(_.nonEmpty))

      CountingFileSystem.reset()
      val withManifest = DedupIndex
        .probeBands(spark, root, segs, 8, keys)
        .collect().toSet
      assert(CountingFileSystem.count("open", _.endsWith("_layouts")) == 1,
        "probe must resolve layout from ONE manifest read")
      assert(CountingFileSystem.count("listStatus", isBucketedTableDir) == 0,
        "manifest hit must not walk bucketed segments' table dirs")
      assert(withManifest.nonEmpty)

      // pure-cache contract: no manifest → fallback listings, same rows
      fs.delete(new Path(rootP, "_layouts"), false)
      CountingFileSystem.reset()
      val withoutManifest = DedupIndex
        .probeBands(spark, root, segs, 8, keys)
        .collect().toSet
      assert(CountingFileSystem.count("open", _.endsWith("_layouts")) == 0)
      assert(CountingFileSystem.count("listStatus", isBucketedTableDir) > 0,
        "fallback must list the bucketed table dirs it lost the map for")
      assert(withoutManifest == withManifest)
    } finally {
      spark.conf.unset("graft.dedup.probeBuckets")
      spark.conf.unset("graft.dedup.blockBytes")
    }
  }

  test("single-writer lease: a live foreign lease refuses every " +
      "mutation loudly; a crash orphan is broken by age (r10 #5)") {
    import org.apache.hadoop.fs.Path
    import graft.sources.{EmbeddingDedupIndex, Lease}
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-lease").toString
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plantLease(owner: String, ts: Long): Unit = {
      val out = fs.create(new Path(rootP, Lease.FileName), true)
      try out.write(s"$owner\t$ts".getBytes("UTF-8")) finally out.close()
    }
    // normal mutations cycle the lease transparently
    DedupIndex.update(spark, root, docs.filter(col("doc_id") < 40),
      "doc_id", "text", threshold = 0.8)
    assert(!fs.exists(new Path(rootP, Lease.FileName)),
      "lease must be released after a mutation")
    // a LIVE foreign lease refuses update / compaction / tombstone
    plantLease("intruder", System.currentTimeMillis())
    val e = intercept[IllegalStateException] {
      DedupIndex.update(spark, root,
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 60),
        "doc_id", "text", threshold = 0.8)
    }
    assert(e.getMessage.contains("locked by writer intruder"))
    intercept[IllegalStateException] {
      DedupIndex.compactSegments(spark, root)
    }
    intercept[IllegalStateException] {
      import spark.implicits._
      DedupIndex.tombstone(spark, root, Seq(1L).toDF("id"))
    }
    // a crash orphan (older than ttl) is broken and taken over
    plantLease("crashed", System.currentTimeMillis()
      - Lease.ttlMs(spark) - 1000)
    val r = DedupIndex.update(spark, root,
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 60),
      "doc_id", "text", threshold = 0.8)
    assert(r.segment.nonEmpty)
    assert(!fs.exists(new Path(rootP, Lease.FileName)),
      "recovered lease must be released after the mutation")
    // same-JVM concurrent writer: refused without touching the race
    @volatile var inside = false
    @volatile var bodyErr: Throwable = null
    val t = new Thread(() => {
      try Lease.withWriter(spark, root) {
        inside = true; Thread.sleep(1200)
      } catch { case x: Throwable => bodyErr = x }
    })
    t.start()
    while (!inside && t.isAlive) Thread.sleep(10)
    val e2 = intercept[IllegalStateException] {
      DedupIndex.compactSegments(spark, root)
    }
    assert(e2.getMessage.contains("locked by writer"))
    t.join()
    assert(bodyErr == null)
    // released → mutations proceed again
    DedupIndex.update(spark, root, docs.filter(col("doc_id") >= 60
      && col("doc_id") < 70), "doc_id", "text", threshold = 0.8)
    // the embedding twin enforces the same contract
    import spark.implicits._
    val eroot = Files.createTempDirectory("ededup-lease").toString
    val vecs = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.4f)))
      .toDF("vec_id", "embedding")
    EmbeddingDedupIndex.update(spark, eroot, vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, bits = 4)
    val efs = new Path(eroot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val eout = efs.create(new Path(eroot, Lease.FileName), true)
    try eout.write(s"other\t${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally eout.close()
    intercept[IllegalStateException] {
      EmbeddingDedupIndex.update(spark, eroot, vecs, "vec_id", "embedding",
        dim = 8, threshold = 0.9, bits = 4)
    }
    // the embedding twin's replay cleanup runs INSIDE the lease (r11
    // ADVICE): a refused second writer must not have deleted the
    // holder's segment first. Commit a named segment, plant a live
    // foreign lease, replay-update with that segmentName — refused
    // AND the committed segment is untouched.
    efs.delete(new Path(eroot, Lease.FileName), false)
    EmbeddingDedupIndex.update(spark, eroot,
      Seq((3L, Array.fill(8)(0.3f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 8, threshold = 0.9, bits = 4,
      segmentName = Some("seg-replayguard"))
    assert(efs.exists(new Path(eroot, "seg-replayguard/_SUCCESS")))
    val eout2 = efs.create(new Path(eroot, Lease.FileName), true)
    try eout2.write(
      s"holder\t${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally eout2.close()
    intercept[IllegalStateException] {
      EmbeddingDedupIndex.update(spark, eroot,
        Seq((3L, Array.fill(8)(0.3f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = 8, threshold = 0.9, bits = 4,
        segmentName = Some("seg-replayguard"))
    }
    assert(efs.exists(new Path(eroot, "seg-replayguard/_SUCCESS")),
      "a refused replay writer must not delete the holder's segment")
    efs.delete(new Path(eroot, Lease.FileName), false)
  }

  test("compactSegments migrates a coarse-page (pre-pageRows) store " +
      "to the probe-bounded page layout (r11 verdict #6)") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    // max rows any single page of the id column spans, across every
    // sets parquet file under the store — the probe's decode
    // granularity per key (column-index filtering selects row ranges
    // at the PREDICATE column's page boundaries)
    def maxIdPageRows(root: String): Long = {
      val rootP = new Path(root)
      val fs = rootP.getFileSystem(hconf)
      val files = fs.listFiles(rootP, true)
      var worst = 0L
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(".parquet") &&
            f.getPath.toString.contains("/sets/")) {
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(f.getPath, hconf))
          try {
            r.getFooter.getBlocks.forEach { b =>
              val idCol = b.getColumns.asScala
                .find(_.getPath.toDotString == "id").get
              val oi = r.readOffsetIndex(idCol)
              val n = oi.getPageCount
              for (i <- 0 until n) {
                val start = oi.getFirstRowIndex(i)
                val end = if (i + 1 < n) oi.getFirstRowIndex(i + 1)
                  else b.getRowCount
                worst = math.max(worst, end - start)
              }
            }
          } finally r.close()
        }
      }
      worst
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-pagemig").toString
    // simulate a pre-r11 store: pages bounded only by bytes, so the
    // narrow sorted id column packs the whole file into one page
    spark.conf.set("graft.dedup.pageRows", "100000")
    try DedupIndex.update(spark, root, docs, "doc_id", "text",
      threshold = 0.8)
    finally spark.conf.unset("graft.dedup.pageRows")
    val coarse = maxIdPageRows(root)
    assert(coarse > 64,
      s"fixture must reproduce the coarse layout (got $coarse rows/page)")
    // compaction rewrites every file through writeSorted, which reads
    // the CURRENT pageRows conf — one compactSegments is the runbook
    // migration for stores written before the bound existed. force:
    // a single-segment store (one bulk load) must migrate too.
    assert(DedupIndex.compactSegments(spark, root).isEmpty,
      "single segment is a merge no-op without force")
    assert(DedupIndex.compactSegments(spark, root, force = true).nonEmpty)
    val bounded = maxIdPageRows(root)
    assert(bounded <= 64,
      s"compacted store must adopt probe-bounded pages, got $bounded")
  }

  test("lease heartbeat keeps a long mutation alive past the TTL; a " +
      "takeover mid-mutation fails the mutation loudly (r11 ADVICE)") {
    import org.apache.hadoop.fs.Path
    import graft.sources.Lease
    val root = Files.createTempDirectory("lease-beat").toString
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heartbeat: with a 3s TTL the beat fires every max(1s, ttl/3);
    // a 2.5s body must observe the stamp ADVANCE, so a concurrent
    // acquirer reading mid-mutation never sees a crash orphan
    spark.conf.set("graft.lease.ttlMs", "3000")
    try {
      var stamps = List.empty[Long]
      Lease.withWriter(spark, root) {
        stamps ::= Lease.read(fs, rootP).map(_._2).getOrElse(-1L)
        Thread.sleep(2500)
        stamps ::= Lease.read(fs, rootP).map(_._2).getOrElse(-1L)
      }
      assert(stamps.forall(_ > 0), s"lease must stay readable: $stamps")
      assert(stamps.head > stamps.last,
        s"heartbeat must advance the stamp during the mutation: $stamps")
      assert(!fs.exists(new Path(rootP, Lease.FileName)))
      // takeover mid-mutation (host stalled past TTL, lease stolen):
      // the mutation must FAIL at its final verify, not report
      // success, and must NOT delete the new writer's lease
      val e = intercept[IllegalStateException] {
        Lease.withWriter(spark, root) {
          val out = fs.create(new Path(rootP, Lease.FileName), true)
          try out.write(
            s"thief\t${System.currentTimeMillis()}".getBytes("UTF-8"))
          finally out.close()
        }
      }
      assert(e.getMessage.contains("taken over by thief"))
      assert(Lease.read(fs, rootP).exists(_._1 == "thief"),
        "the overtaken mutation must not delete the new writer's lease")
    } finally spark.conf.unset("graft.lease.ttlMs")
  }

  test("geometry mismatch fails loudly instead of degrading recall") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 30)
    val root = Files.createTempDirectory("dedup-index-meta").toString
    DedupIndex.update(spark, root, docs, "doc_id", "text",
      threshold = 0.8, numHashes = 30, bands = 6)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.update(spark, root, docs, "doc_id", "text",
        threshold = 0.8, numHashes = 20, bands = 5)
    }
    assert(e.getMessage.contains("must match"))
  }

  test("bulkLoad heals a manifest hole, as update does") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    import graft.sources.{EmbeddingDedupIndex, IndexLayout}
    def covered(root: String, live: Seq[String]): Unit = {
      val rootP = new Path(root)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(live.size >= 2)
      assert(live.toSet.subsetOf(IndexLayout.readLayouts(fs, rootP).keySet),
        s"manifest misses ${live.toSet -- IndexLayout.readLayouts(fs, rootP).keySet}")
    }
    def dropManifest(root: String): Unit = {
      val rootP = new Path(root)
      rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new Path(rootP, "_layouts"), false)
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").localCheckpoint()
    val root = Files.createTempDirectory("dedup-bulk-heal").toString
    DedupIndex.bulkLoad(spark, root, docs.filter(col("doc_id") < 60),
      "doc_id", "text", threshold = 0.8)
    dropManifest(root)
    DedupIndex.bulkLoad(spark, root,
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 120),
      "doc_id", "text", threshold = 0.8)
    covered(root, DedupIndex.segments(spark, root))

    val eroot = Files.createTempDirectory("ededup-bulk-heal").toString
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    EmbeddingDedupIndex.bulkLoad(spark, eroot, vecs(0 until 20),
      "vec_id", "embedding", dim = 8, threshold = 0.9, bits = 4)
    dropManifest(eroot)
    EmbeddingDedupIndex.bulkLoad(spark, eroot, vecs(20 until 40),
      "vec_id", "embedding", dim = 8, threshold = 0.9, bits = 4)
    covered(eroot, EmbeddingDedupIndex.segments(spark, eroot))
  }

  test("an oph:true meta fails loudly; oph:false or absent still opens") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") < 30)
    val root = Files.createTempDirectory("dedup-index-oph").toString
    val mp = new Path(root, "_meta.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeMeta(tail: String): Unit = {
      val out = fs.create(mp, true)
      try out.write(("""{"threshold":0.8,"numHashes":30,"bands":6,""" +
        s""""probeBuckets":64$tail}""").getBytes("UTF-8"))
      finally out.close()
    }
    // the build that had the opt-in one-permutation signatures wrote
    // the field; a store built with them is unprobeable now
    writeMeta(""","oph":true""")
    for (run <- Seq[() => Any](
        () => DedupIndex.update(spark, root, docs, "doc_id", "text",
          threshold = 0.8),
        () => DedupIndex.bulkLoad(spark, root, docs, "doc_id", "text",
          threshold = 0.8))) {
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("one-permutation") &&
        e.getMessage.contains("Rebuild"), e.getMessage)
    }
    assert(DedupIndex.segments(spark, root).isEmpty)
    // classic stores open whether or not they carry the field
    writeMeta(""","oph":false""")
    DedupIndex.update(spark, root, docs, "doc_id", "text", threshold = 0.8)
    writeMeta("")
    DedupIndex.update(spark, root, docs, "doc_id", "text", threshold = 0.8)
    assert(DedupIndex.currentSets(spark, root).count() == docs.count())
    // a fresh store does not write the field
    val fresh = Files.createTempDirectory("dedup-index-nooph").toString
    DedupIndex.update(spark, fresh, docs, "doc_id", "text", threshold = 0.8)
    val fin = fs.open(new Path(fresh, "_meta.json"))
    val ftxt = try scala.io.Source.fromInputStream(fin, "UTF-8").mkString
    finally fin.close()
    assert(!ftxt.contains("oph"), ftxt)
  }
}
