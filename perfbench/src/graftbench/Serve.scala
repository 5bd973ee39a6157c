package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.api.EGraph
import graft.graph.GraphBuilder
import graft.index.TypedIndexes
import graft.search.QueryJson
import graft.sources.{DocumentIngest, GraphStore}

/** egraph_serve: request traffic of the kinds egraphdb serves (point
  * lookups, index searches, traversals, document upserts) against a
  * store persisted with GraphStore. One reader thread runs a closed loop
  * of point / search / traverse ops on Zipf-skewed keys; one writer
  * thread upserts node batches on a fixed schedule (open loop) and
  * commits a new epoch each time; the reader reopens `EGraph.fromStore`
  * whenever the epoch advances. The mix follows the op classes graft's
  * API offers; sizes, rates and skew are this benchmark's choices, not
  * measurements of a deployment. */
object Serve {
  // inputs (fixed; the seed changes content only)
  val NCust = 2000
  val NSupp = 100
  val NOrders = 8000
  val SetupReps = 3
  // traffic
  // the reader's op classes, in a fixed rotation: 65% point, 25%
  // search, 10% traverse
  val Schedule: Vector[String] = Vector.tabulate(20) {
    case 9 | 19 => "traverse"
    case i if i % 4 == 2 => "search"
    case _ => "point"
  }
  /** Op kinds of one class that are timed together: search kinds 0-1
    * probe a stored range, 2-3 run a QueryJson document; the traverse
    * kinds cost about the same (~1 s) and a window holds only four or
    * five traversals, so they share one median. */
  def KindGroup(cls: String, kind: Int): Int = cls match {
    case "search" => kind / 2
    case "traverse" => 0
    case _ => kind
  }
  // YCSB's default Zipfian constant
  val ZipfS = 0.99
  // one write every WriteEveryS seconds of a measured window, the
  // first due WriteFirstS after it opens. A write (~2.6 s under read
  // load on 4 cores) keeps the writer a quarter busy at this rate, so
  // most reads of each kind see no write and the kind medians stay put;
  // at twice the rate half the reads overlap a write and the medians
  // flip between the two modes from run to run
  val WriteEveryS = 10.0
  val WriteFirstS = 1.0
  // one upsert batch: updates of Zipf-chosen customers plus new ones
  val WriteUpdates = 24
  val WriteNew = 2
  // 8 shards for a 2k-node store (GraphStore's default, 64, gives
  // ~30 nodes per shard directory)
  val ShardBits = 3

  val Specs = Seq(
    DocumentIngest.IndexSpec("name", "text", Seq("name")),
    DocumentIngest.IndexSpec("mktsegment", "text", Seq("mktsegment")),
    DocumentIngest.IndexSpec("mktsegment", "text", Seq("mktsegment"), lowercase = true),
    DocumentIngest.IndexSpec("nationkey", "int", Seq("nationkey")),
    DocumentIngest.IndexSpec("acctbal", "double", Seq("acctbal")))

  /** Expected store content at one epoch. */
  final class Snap(val custs: Map[String, Cust], val supps: Map[String, Supp]) {
    lazy val byName: Map[String, Set[String]] =
      custs.values.groupBy(_.name).map { case (n, cs) => n -> cs.map(_.key).toSet }
    def details(key: String): Option[String] =
      custs.get(key).map(_.details).orElse(supps.get(key).map(_.details))
    def inRange(lo: Double, hi: Double): Set[(String, Double)] =
      custs.values.filter(c => c.acctbal >= lo && c.acctbal <= hi)
        .map(c => (c.key, c.acctbal)).toSet
  }

  def writeTables(spark: SparkSession, g: GraphData, dir: String): Unit = {
    import spark.implicits._
    g.custs.map(c => (c.custkey, c.name, c.nation, c.acctbal, c.seg))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    g.supps.map(s => (s.suppkey, s.name, s.nation, s.cents / 100.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    g.orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    g.lineitems.toDF("l_orderkey", "l_suppkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
  }

  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      var n = 0L
      java.nio.file.Files.walk(p).forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f)
      }
      n
    }
  }

  /** Set-up: build the graph from the tables the way EGraph.fromTables
    * does and persist it with GraphStore under one epoch. */
  def setup(ctx: Ctx, tables: String, root: String): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val nodes = GraphBuilder.nodes(spark, tables)
    val edges = GraphBuilder.edges(spark, tables)
    val vn = t.span("sources.GraphStore.save")(GraphStore.saveNodes(nodes, root, ShardBits))
    val ve = t.span("sources.GraphStore.save")(GraphStore.saveEdges(edges, root, ShardBits))
    val vi = t.span("index.TypedIndexes.build") {
      val ix = TypedIndexes.build(spark, tables)
      t.span("sources.GraphStore.save")(GraphStore.saveIndexes(ix, root))
    }
    t.span("sources.GraphStore.commitEpoch")(GraphStore.commitEpoch(spark, root,
      Map("nodes" -> vn, "edges" -> ve, "indexes" -> vi)))
  }

  private def epochKey(e: Map[String, String]): (String, String) =
    (e.getOrElse("nodes", ""), e.getOrElse("indexes", ""))

  final case class Sample(cls: String, ms: Double, traced: Boolean, rows: Long,
      kind: Int = 0, atMs: Double = 0)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    // the self-test's tiny inputs are sf0.001-sized
    val (nCust, nSupp, nOrders) = if (ctx.tiny) (150, 10, 1500) else (NCust, NSupp, NOrders)
    val g = Gen.graph(ctx.seed, nCust, nSupp, nOrders)
    val base = ctx.dir("tables/base")
    writeTables(spark, g, base)

    ctx.phase("inputs written")
    // ---- set-up, repeated; the last store is the one served ----
    val setupTimes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var root = ""
    (0 until SetupReps).foreach { i =>
      val tables = s"${ctx.work}/tables/copy$i"
      copyDir(base, tables)
      root = s"${ctx.work}/store$i"
      val tr = ctx.traced(i)
      val t0 = System.nanoTime()
      t.op("op.setup", tr)(setup(ctx, tables, root))
      setupTimes += (((System.nanoTime() - t0) / 1e9, tr))
    }

    // a planted wrong expectation (self-test): every customer's
    // recorded balance is off by one cent
    val custs0 = g.custs.map(c => c.key -> (if (ctx.plant) c.copy(cents = c.cents + 1) else c)).toMap
    val supps = g.supps.map(s => s.key -> s).toMap
    val expect = new ConcurrentHashMap[(String, String), Snap]()
    expect.put(epochKey(GraphStore.currentEpoch(spark, root)), new Snap(custs0, supps))
    val links = g.links
    val linksOf: Map[String, Set[(String, Long, Double)]] =
      links.toSeq.groupBy(_._1._1).map { case (s, xs) =>
        s -> xs.map { case ((_, d), (n, q)) => (d, n, q) }.toSet }
    val adj = g.adj

    def bfs(src: String, depth: Int): Map[String, Int] = {
      val seen = mutable.HashMap(src -> 0)
      var frontier = Seq(src)
      (1 to depth).foreach { d =>
        frontier = frontier.flatMap(adj.getOrElse(_, Vector.empty)).distinct
          .filterNot(seen.contains)
        frontier.foreach(seen(_) = d)
      }
      seen.toMap
    }

    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val writeLag = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()
    val written = new java.util.concurrent.atomic.AtomicLong()
    val userBytes = new java.util.concurrent.atomic.AtomicLong()

    // ---- writer: open loop, one upsert batch per window ----
    // its state carries over from window to window; one window's writer
    // thread is joined before the next one starts
    val wrng = new Rng(ctx.seed * 31 + 7)
    val wz = new Zipf(nCust, ZipfS, wrng)
    var snap = new Snap(custs0, supps)
    var nextKey = nCust + 1L
    var writeNo = 0L

    def write(due: Long, w0: Long, tr: Boolean): Unit = {
      val started = System.nanoTime()
      val upd = (0 until WriteUpdates).map(_ => s"c:${1 + wz.next()}").distinct
        .map(k => snap.custs(k).copy(cents = wrng.between(-99999, 999999).toLong,
          seg = Gen.Segments(wrng.int(Gen.Segments.size)))) ++
        (0 until WriteNew).map { _ => nextKey += 1; Gen.cust(nextKey - 1, wrng) }
      val next = new Snap(snap.custs ++ upd.map(c => c.key -> c), supps)
      val ok = ctx.attempt(s"write batch $writeNo") {
        t.op("op.write", tr) {
          val docs = upd.map(c => (c.key, c.details)).toDF("key_data", "details")
          val updates = DocumentIngest.nodes(docs, "key_data", "details")
          val cur = GraphStore.loadNodes(spark, root).drop("shard")
          val merged = t.span("sources.DocumentIngest.upsertNodes")(
            DocumentIngest.upsertNodes(cur, updates))
          val vn = t.span("sources.GraphStore.save")(
            GraphStore.saveNodes(merged, root, ShardBits, publish = false))
          val curIx = GraphStore.loadIndexes(spark, root).drop("key_num")
          val ix = t.span("sources.DocumentIngest.upsertIndexes")(
            DocumentIngest.upsertIndexes(curIx, updates, Specs))
          val vi = t.span("sources.GraphStore.save")(
            GraphStore.saveIndexes(ix, root, publish = false))
          // the expectation is registered before readers can see it
          expect.put((vn, vi), next)
          t.span("sources.GraphStore.commitEpoch")(
            GraphStore.commitEpoch(spark, root, Map("nodes" -> vn, "indexes" -> vi)))
          written.addAndGet(Serve.dirBytes(s"$root/nodes/$vn") +
            Serve.dirBytes(s"$root/indexes/$vi"))
          userBytes.addAndGet(upd.map(c => c.key.length + c.details.length).sum)
          true
        }
      }
      if (ok) snap = next
      samples.add(Sample("write", (System.nanoTime() - due) / 1e6, tr, 0L, 0,
        (due - w0) / 1e6))
      writeLag.add(((started - due) / 1e6, tr))
      writeNo += 1
    }

    /** The writer of one window: its writes are due at fixed offsets
      * from the window's start, so every window of a length holds the
      * same writes whatever the reader does. */
    def writer(w0: Long, windowNs: Long, tr: Boolean): Thread = {
      val th = new Thread(() => {
        Iterator.iterate(w0 + (WriteFirstS * 1e9).toLong)(_ + (WriteEveryS * 1e9).toLong)
          .takeWhile(_ < w0 + windowNs).foreach { due =>
            while (System.nanoTime() < due)
              Thread.sleep(math.min(20L, math.max(1L, (due - System.nanoTime()) / 1000000L)))
            write(due, w0, tr)
          }
      }, "graftbench-writer")
      th.setDaemon(true)
      th.start()
      th
    }

    // ---- reader: closed loop ----
    val rng = new Rng(ctx.seed * 17 + 3)
    val custZ = new Zipf(nCust, ZipfS, rng)
    val suppZ = new Zipf(nSupp, ZipfS, rng)
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.seed))
      .shuffle((1 to nCust).toVector)
    def custKey(): String = s"c:${perm(custZ.next())}"
    def suppKey(): String = s"s:${1 + suppZ.next()}"
    var eg: EGraph = null
    var egEpoch = Map.empty[String, String]
    var egSnap: Snap = null
    var opIndex = 0L

    /** Reopen the snapshot when the epoch advanced — its own step of
      * the reader loop, timed as an op kind of its own rather than
      * added to the read that happens to follow it. */
    def maybeReopen(tr: Boolean, w0: Option[Long]): Unit =
      if (eg == null || GraphStore.currentEpoch(spark, root) != egEpoch) {
        val t0 = System.nanoTime()
        t.op("op.reopen", tr)(reopen())
        w0.foreach(w => samples.add(Sample("reopen", (System.nanoTime() - t0) / 1e6, tr, 0L,
          0, (t0 - w) / 1e6)))
      }
    def reopen(): Unit = {
      var done = false
      while (!done) {
        val before = GraphStore.currentEpoch(spark, root)
        // the new snapshot is warmed before it serves, as a server
        // swapping snapshots would: the lazy adjacency build lands here
        val g2 = t.span("api.EGraph.fromStore") {
          val g = EGraph.fromStore(spark, root)
          g.neighbors("c:1", 0).collect()
          g
        }
        val after = GraphStore.currentEpoch(spark, root)
        if (before == after) {
          eg = g2; egEpoch = after; egSnap = expect.get(epochKey(after)); done = true
        }
      }
    }

    /** A GraphStore call resolves the epoch itself: accept a result
      * that matches the store at the epoch before or after the call. */
    def storeOp(f: => Array[Row])(ok: (Snap, Array[Row]) => Boolean): (Boolean, Long) = {
      val before = expect.get(epochKey(GraphStore.currentEpoch(spark, root)))
      val rows = f
      val after = expect.get(epochKey(GraphStore.currentEpoch(spark, root)))
      (ok(before, rows) || (after != null && ok(after, rows)), rows.length.toLong)
    }

    val kindSeq = mutable.HashMap.empty[String, Int]
    /** One read; `w0` is the start of the measured window it belongs
      * to (none in the warm-up, whose ops are not recorded). */
    def readOp(cls: String, tr: Boolean, w0: Option[Long]): Unit = {
      maybeReopen(tr, w0)
      val x = rng.double()
      // kinds within a class rotate, so every window sees the same mix
      val kind = kindSeq.getOrElse(cls, 0) % 4
      kindSeq(cls) = kind + 1
      var rowsOut = 0L
      val what = s"$cls#$kind op $opIndex"
      val t0 = System.nanoTime()
      val ok = ctx.attempt(what) {
        t.op(s"op.$cls", tr) {
          val (res, n) = cls match {
            case "point" => kind match {
              case 0 =>
                val k = if (x < 0.8) custKey() else suppKey()
                storeOp(t.span("sources.GraphStore.nodeByKey")(
                  GraphStore.nodeByKey(spark, root, k, ShardBits).collect())) { (s, rows) =>
                  rows.length == 1 && rows(0).getAs[String]("key_data") == k &&
                    s.details(k).contains(rows(0).getAs[String]("details"))
                }
              case 1 =>
                val name = f"Customer#${perm(custZ.next())}%09d"
                storeOp(t.span("sources.GraphStore.probeStored")(
                  GraphStore.probeStored(spark, root, "name", "text", name).collect())) {
                  (s, rows) => rows.map(_.getString(0)).toSet ==
                    s.byName.getOrElse(name, Set.empty)
                }
              case 2 =>
                val k = custKey()
                val rows = t.span("api.EGraph.linksFrom")(eg.linksFrom(k).collect())
                (rows.map(r => (r.getAs[String]("dst_key"), r.getAs[Long]("n_items"),
                  r.getAs[Double]("sum_qty"))).toSet == linksOf.getOrElse(k, Set.empty) &&
                  rows.length == linksOf.getOrElse(k, Set.empty).size,
                  rows.length.toLong)
              case _ =>
                val k = custKey()
                val nb = adj.getOrElse(k, Vector.empty)
                val d = if (nb.isEmpty) suppKey() else nb(rng.int(nb.size))
                val rows = t.span("api.EGraph.link")(eg.link(k, d).collect())
                (rows.map(r => (r.getAs[Long]("n_items"), r.getAs[Double]("sum_qty"))).toSeq ==
                  links.get((k, d)).toSeq, rows.length.toLong)
            }
            case "search" =>
              val lo = -999.99 + rng.double() * 10900
              val hi = lo + 55
              if (kind < 2) {
                storeOp(t.span("sources.GraphStore.probeStoredRange")(
                  GraphStore.probeStoredRange(spark, root, "acctbal", "double", lo, hi)
                    .collect())) { (s, rows) =>
                  rows.map(r => (r.getString(0), r.getDouble(1))).toSet == s.inRange(lo, hi) &&
                    rows.length == s.inRange(lo, hi).size
                }
              } else {
                val nk = rng.int(25)
                val seg = Gen.Segments(rng.int(Gen.Segments.size))
                val q = s"""{"query":{"type":"index","conditions":{"any":[""" +
                  s"""{"key":[$lo,$hi],"key_type":"double","index_name":"acctbal"},""" +
                  s"""{"key":$nk,"key_type":"int","index_name":"nationkey"}],""" +
                  s""""filters":[{"key":"$seg","key_type":"text",""" +
                  s""""index_json_path":["details","mktsegment"]}]},""" +
                  s""""selected_paths":{"name":["details","name"],""" +
                  s""""acctbal":["details","acctbal"]}}}"""
                val rows = t.span("search.QueryJson.run")(
                  QueryJson.run(eg.nodes, eg.indexes, q).collect())
                val exp = egSnap.custs.values.filter(c => c.seg == seg &&
                  ((c.acctbal >= lo && c.acctbal <= hi) || c.nation == nk))
                  .map(c => (c.key, c.acctStr, c.name)).toSet
                (rows.map(r => (r.getAs[String]("key_data"), r.getAs[String]("acctbal"),
                  r.getAs[String]("name"))).toSet == exp && rows.length == exp.size,
                  rows.length.toLong)
              }
            case _ =>
              val k = custKey()
              if (kind % 2 == 0) {
                val depth = 1 + kind / 2
                val rows = t.span("api.EGraph.neighbors")(eg.neighbors(k, depth).collect())
                val got = rows.map(r => r.getAs[String]("node") -> r.getAs[Int]("depth")).toMap
                (got == bfs(k, depth) && rows.length == got.size, rows.length.toLong)
              } else {
                // a customer two hops away, through one of k's suppliers
                val d = adj.getOrElse(k, Vector.empty).headOption
                  .flatMap(s => adj(s).find(_ != k)).getOrElse(k)
                val rows = t.span("api.EGraph.path")(eg.path(k, d).collect())
                val path = rows.sortBy(_.getAs[Int]("step")).map(_.getAs[String]("node"))
                // unreachable (e.g. a customer without orders): no path
                val valid = bfs(k, 20).get(d) match {
                  case None => path.isEmpty
                  case Some(dist) =>
                    path.headOption.contains(k) && path.lastOption.contains(d) &&
                      path.length - 1 == dist && path.sliding(2).forall {
                        case Array(a, b) => adj.getOrElse(a, Vector.empty).contains(b)
                        case _ => true
                      }
                }
                (valid, rows.length.toLong)
              }
          }
          rowsOut = n
          res
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      w0.foreach(w => samples.add(Sample(cls, ms, tr, rowsOut, kind, (t0 - w) / 1e6)))
      opIndex += 1
    }

    ctx.phase("set-up done")
    // ---- warm-up, then the measured window ----
    var schedPos = 0
    def pickClass(): String = {
      val c = Schedule(schedPos % Schedule.length)
      schedPos += 1
      c
    }
    // warm-up, untimed: every op kind once, then one rotation of the
    // schedule. Reads keep getting faster through the first few dozen
    // ops (point ops ~90 ms at first, ~65 ms later) while the JIT
    // compiles their paths
    (Seq.fill(4)("point") ++ Seq.fill(4)("search") ++ Seq.fill(2)("traverse") ++ Schedule)
      .foreach(readOp(_, tr = false, None))
    ctx.phase("warm-up done")
    // a trace run measures an untraced window, then a traced one, each
    // with its own writer
    val windowS = mutable.HashMap.empty[Boolean, Double]
    for (tr <- if (ctx.trace) Seq(false, true) else Seq(false)) {
      // every window starts the kind rotation afresh
      kindSeq.clear()
      schedPos = 0
      val w0 = System.nanoTime()
      val windowNs = (ctx.seconds * 1e9).toLong
      val w = writer(w0, windowNs, tr)
      // at least one whole rotation, so every op kind is sampled
      while (System.nanoTime() < w0 + windowNs || schedPos < Schedule.length)
        readOp(pickClass(), tr, Some(w0))
      windowS(tr) = (System.nanoTime() - w0) / 1e9
      // a write still running finishes before the next window opens
      w.join()
    }

    ctx.phase("window done")
    import scala.jdk.CollectionConverters._
    val all = samples.asScala.toSeq
    def e2e(tr: Boolean): Seq[Metric] = {
      val s = all.filter(_.traced == tr)
      Layers.e2e(setupTimes.filter(_._2 == tr).map(_._1).toSeq,
        s.map(x => (s"${x.cls}/${KindGroup(x.cls, x.kind)}", x.ms)))
    }
    val counts = all.filter(!_.traced).groupBy(_.cls).map { case (k, v) => k -> v.size }
    val storeBytes = dirBytes(root)
    val ep = GraphStore.currentEpoch(spark, root)
    val liveBytes = Seq("nodes", "edges", "indexes")
      .map(tb => dirBytes(s"$root/$tb/${ep.getOrElse(tb, "")}")).sum
    val (layer, extra) =
      if (!ctx.trace) (Nil, Map.empty[String, Any])
      else {
        ctx.drain()
        val spans = t.all
        val cnt = ctx.counters.get.snapshot()
        val pointOps = all.filter(s => s.traced && s.cls == "point")
        val pointSpanIds = spans.filter(_.name == "op.point").map(_.op).toSet
        val pointRead = spans.filter(s => pointSpanIds.contains(s.op))
          .flatMap(s => cnt.get(s.id)).map(_.inputRecords).sum
        val lags = writeLag.asScala.toSeq.filter(_._2).map(_._1)
        (Layers.spark(ctx, spans, cnt, Set("op.point", "op.search", "op.traverse",
          "op.write", "op.reopen")), Map(
          "sources.rows_read_per_row_returned" ->
            pointRead.toDouble / math.max(1L, pointOps.map(_.rows).sum),
          "gen.write_lag_ms" -> Stats.median(lags),
          "sources.bytes_written_per_user_byte" ->
            written.get.toDouble / math.max(1L, userBytes.get),
          "sources.store_bytes_per_live_byte" ->
            storeBytes.toDouble / math.max(1L, liveBytes)))
      }
    Outcome(e2e(false), if (ctx.trace) e2e(true) else Nil, layer,
      Map("inputs" -> (s"$nCust customers, $nSupp suppliers, $nOrders orders, " +
        s"${g.lineitems.size} lineitems, ${links.size} links"),
        "window_s" -> windowS(false), "samples_untraced" -> counts.toSeq.sortBy(_._1),
        "writes_per_s" -> 1 / WriteEveryS,
        "samples" -> all.sortBy(_.atMs).map(x =>
          f"${x.cls}%s/${x.kind}%d@${x.atMs}%.0f:${x.ms}%.0f"),
        "bytes_written" -> written.get, "user_bytes" -> userBytes.get,
        "store_bytes" -> storeBytes, "live_bytes" -> liveBytes) ++ extra +
        ("setup_s_each" -> setupTimes.map(_._1).toSeq))
  }
}
