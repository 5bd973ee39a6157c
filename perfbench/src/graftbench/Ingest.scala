package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup.Dedup
import graft.sources.DedupIndex

/** corpus_ingest: dedup-on-arrival. Set-up bulk-loads a seeded base
  * corpus into a DedupIndex; then one writer runs a closed loop of
  * `DedupIndex.update` micro-batches (part near-duplicates of earlier
  * documents) with `compactTiered` after every `CompactEvery`-th batch,
  * the cadence StreamingDedup's auto-compaction runs at.
  *
  * Check: DedupIndex's stated contract — the union of the per-batch
  * pairs equals `Dedup.minhashNearDups` over every ingested document,
  * less the base-corpus pairs a bulk load does not report. Each batch
  * must report exactly the pairs whose later member it brought. */
object Ingest {
  val NBase = 1500
  val BatchDocs = 60
  val DupShare = 0.3
  val CompactEvery = 3
  val Threshold = 0.8
  val SetupReps = 3
  // the last warm-up batch compacts, so compaction runs warm too
  val WarmupBatches = 2

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val rng = new Rng(ctx.seed)
    val vocab = new Gen.Vocab(rng.fork(1), 4000)
    // the self-test's tiny inputs are sf0.001-sized
    val (nBase, batchDocs) = if (ctx.tiny) (500, 20) else (NBase, BatchDocs)
    val base = Gen.docs(rng.fork(2), vocab, nBase, 0L)
    def frame(ds: Seq[Gen.Doc]): DataFrame =
      ds.map(d => (d.id, d.text)).toDF("doc_id", "text")

    // ---- set-up: bulk load, repeated; the last index is the one fed ----
    val setupTimes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var root = ""
    (0 until SetupReps).foreach { i =>
      root = s"${ctx.work}/dedupindex$i"
      val tr = ctx.traced(i)
      val t0 = System.nanoTime()
      t.op("op.setup", tr)(t.span("sources.DedupIndex.bulkLoad")(
        DedupIndex.bulkLoad(spark, root, frame(base), "doc_id", "text", Threshold)))
      setupTimes += (((System.nanoTime() - t0) / 1e9, tr))
    }

    ctx.phase("set-up done")
    // ---- the stream ----
    val ingested = mutable.ArrayBuffer.empty[Gen.Doc] ++= base
    val srng = rng.fork(3)
    var nextId = nBase.toLong
    def nextBatch(): Seq[Gen.Doc] = (0 until batchDocs).map { _ =>
      val text =
        if (srng.chance(DupShare)) {
          val src = ingested(srng.int(ingested.size)).text
          if (srng.chance(0.2)) src else Gen.perturb(src, vocab, srng, 0.02 + 0.04 * srng.double())
        } else Gen.freshText(vocab, srng)
      nextId += 1
      Gen.Doc(nextId - 1, text, "en", "stream")
    }

    final case class B(ms: Double, traced: Boolean, docs: Seq[Gen.Doc],
        pairs: Set[(Long, Long, Double)], measured: Boolean, op: Long, compacts: Boolean)
    val batches = mutable.ArrayBuffer.empty[B]
    var written = 0L
    var userBytes = 0L
    var compactions = 0
    val segCounts = mutable.ArrayBuffer.empty[Int]
    def segBytes(s: String) = Serve.dirBytes(s"$root/$s")

    var i = 0
    def oneBatch(compact: Boolean, measured: Boolean, tr: Boolean): Unit = {
      val docs = nextBatch()
      val df = frame(docs)
      val t0 = System.nanoTime()
      var pairs = Set.empty[(Long, Long, Double)]
      var newSegs = Seq.empty[String]
      val ok = ctx.attempt(s"ingest batch $i") {
        t.op("op.batch", tr) {
          val r = t.span("sources.DedupIndex.update") {
            val u = DedupIndex.update(spark, root, df, "doc_id", "text", Threshold)
            pairs = u.pairs.collect()
              .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("j"))).toSet
            u
          }
          newSegs :+= r.segment
          if (compact)
            t.span("sources.DedupIndex.compactTiered")(
              DedupIndex.compactTiered(spark, root)).foreach { s =>
              newSegs :+= s
              if (measured) compactions += 1
            }
        }
        true
      }
      val ms = (System.nanoTime() - t0) / 1e6
      ingested ++= docs
      if (measured) {
        written += newSegs.map(segBytes).sum
        userBytes += docs.map(_.text.length.toLong).sum
        segCounts += DedupIndex.segments(spark, root).size
      }
      if (ok) batches += B(ms, tr, docs, pairs, measured, i, compact)
      i += 1
    }

    (0 until WarmupBatches).foreach(k => oneBatch(k == WarmupBatches - 1, false, false))
    ctx.phase("warm-up done")
    // a trace run measures an untraced window, then a traced one; each
    // compacts after every CompactEvery-th of its own batches
    val windowS = mutable.HashMap.empty[Boolean, Double]
    for (tr <- if (ctx.trace) Seq(false, true) else Seq(false)) {
      val w0 = System.nanoTime()
      var k = 0
      while ((System.nanoTime() - w0) / 1e9 < ctx.seconds) {
        oneBatch((k + 1) % CompactEvery == 0, measured = true, tr)
        k += 1
      }
      windowS(tr) = (System.nanoTime() - w0) / 1e9
    }

    ctx.phase("window done")
    // ---- check against the bulk operator over everything ingested ----
    val truth = Dedup.minhashNearDups(frame(ingested.toSeq), "doc_id", "text", Threshold)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("j")))
      .filter { case (_, b, _) => b >= nBase }
    val byLater = truth.groupBy(p => math.max(p._1, p._2))
    batches.foreach { b =>
      val ids = b.docs.map(_.id).toSet
      val exp = ids.toSeq.flatMap(id => byLater.getOrElse(id, Array.empty).toSeq)
        .map(p => (p._1, p._2)).toSet
      val got = b.pairs.map(p => (p._1, p._2))
      val jOk = b.pairs.forall(p => truth.exists(q =>
        q._1 == p._1 && q._2 == p._2 && math.abs(q._3 - p._3) < 1e-4))
      ctx.check(got == exp && jOk,
        s"ingest batch ${b.op}: ${got.size} pairs, bulk operator says ${exp.size}")
    }

    ctx.phase("check done")
    def e2e(tr: Boolean): Seq[Metric] = {
      val xs = batches.filter(b => b.measured && b.traced == tr).toSeq
      Layers.e2e(setupTimes.filter(_._2 == tr).map(_._1).toSeq,
        xs.map(b => (if (b.compacts) "compacting" else "plain", b.ms)))
    }
    val (layer, extra) =
      if (!ctx.trace) (Nil, Map.empty[String, Any])
      else {
        ctx.drain()
        val spans = t.all
        val cnt = ctx.counters.get.snapshot()
        val upd = spans.filter(_.name == "sources.DedupIndex.update")
        val readRecs = upd.flatMap(s => cnt.get(s.id)).map(_.inputRecords).sum
        val updDocs = math.max(1, upd.size * batchDocs)
        (Layers.spark(ctx, spans, cnt, Set("op.batch")), Map(
          "sources.DedupIndex.compactTiered.runs" -> compactions,
          "sources.DedupIndex.segments" -> Stats.median(segCounts.map(_.toDouble).toSeq),
          "sources.DedupIndex.store_rows_read_per_doc" -> readRecs.toDouble / updDocs,
          "sources.bytes_written_per_user_byte" ->
            written.toDouble / math.max(1L, userBytes),
          "sources.store_bytes_per_live_byte" ->
            Serve.dirBytes(root).toDouble /
              math.max(1L, DedupIndex.segments(spark, root).map(segBytes).sum)))
      }
    Outcome(e2e(false), if (ctx.trace) e2e(true) else Nil, layer,
      Map("inputs" -> (s"$nBase base docs, $batchDocs docs per batch, " +
        s"${(DupShare * 100).toInt}% near or exact duplicates, compactTiered every " +
        s"$CompactEvery batches"),
        "batches" -> batches.count(_.measured), "window_s" -> windowS(false),
        "segments_end" -> DedupIndex.segments(spark, root).size,
        "pairs_found" -> batches.map(_.pairs.size).sum,
        "batch_ms" -> batches.toSeq.map(b => f"${b.op}%d:${b.ms}%.0f")) ++ extra +
        ("setup_s_each" -> setupTimes.map(_._1).toSeq))
  }
}
