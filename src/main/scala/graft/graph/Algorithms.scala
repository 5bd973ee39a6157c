package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.Materialize._
import graft.util.Memos

/** Whole-graph analytics over the edge DataFrame — the batch-scale
  * path for the reference's "massively scalable" graph vision
  * (README "Vision"). All DataFrame-iterative: each round is a
  * bounded number of shuffles, lineage truncated by localCheckpoint,
  * so rounds stay O(1) cost at any depth.
  */
object Algorithms {

  /** Out/in degree per node over the directed link table
    * (reference link query surface: egraph_link_model.erl). */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src_key").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst_key").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Global triangle count over an undirected (a, b) adjacency.
    * Degree-ordered orientation (each edge points from its
    * lower-(degree, id) endpoint), then a wedge self-join checked
    * against the oriented edge list. Every triangle has exactly one
    * node with two out-edges under this orientation, so each is
    * counted once; wedge volume is Σ outdeg², which orientation
    * bounds by O(m^1.5) even on skewed graphs — the id-ordered
    * variant degenerates to hub-degree² wedges on power-law graphs.
    */
  def triangleCount(undirectedEdges: DataFrame): DataFrame =
    // reuse an already-materialized enumeration, but never FORCE one
    // for a bare count: the single-row aggregate streams over the
    // wedge join in O(1) extra space, while an eager checkpoint would
    // store every (u,w1,w2) row (up to O(m^1.5) on clustered graphs)
    // just to count them
    triangleCache.get(undirectedEdges).getOrElse(
        triangleStreamBuild(undirectedEdges))
      .agg(count(lit(1)).as("n_triangles"))

  /** Per-node triangle participation on the same degree-ordered
    * wedge join as [[triangleCount]] — each matched triangle emits
    * its three corners, one explode + one agg on top of the m^1.5
    * stream. Nodes in no triangle have no row. */
  def trianglesPerNode(undirectedEdges: DataFrame): DataFrame =
    triangleStream(undirectedEdges)
      .select(explode(array(col("u"), col("w1"), col("w2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** One row per triangle (u, w1, w2), memoized per adjacency frame
    * instance (reference equality — GraphBuilder/EgraphQueries hand
    * every caller the same memoized frame per (session, dir), the
    * same contract as the broadcast-adjacency memo). The wedge join is
    * the whole m^1.5 cost and the triangle list is tiny relative to
    * it, so the global count, per-node counts and clustering
    * coefficients — three different reductions over the SAME
    * enumeration — share one materialized pass instead of re-running
    * the join each. Eviction only drops the reference (these are
    * localCheckpoint roots; see the edgeCache note in GraphBuilder).
    */
  private val triangleCache = new Memos.Memo[DataFrame, DataFrame](8, derived = true)
  private def triangleStream(undirectedEdges: DataFrame): DataFrame =
    triangleCache(undirectedEdges)(triangleStreamBuild(undirectedEdges).materialize())

  /** Degree-ordered triangle enumeration — each triangle exactly once. */
  private def triangleStreamBuild(undirectedEdges: DataFrame): DataFrame = {
    // degree from BOTH endpoint columns: correct whether the input
    // materializes both directions (symmetric input → 2×degree,
    // which orders identically) or only the canonical a<b rows
    // (where a one-column count would drop nodes never seen as `a`
    // and the inner joins below would silently discard their edges)
    val deg = undirectedEdges.select(col("a").as("node"))
      .unionByName(undirectedEdges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order, then DROP the degree:
    // wedge generation only needs the orientation (out-degree per u
    // is what the ordering bounds), and the closure can canonicalize
    // by plain node id — so every shuffle key is a single string,
    // not a struct
    val aFirst = struct(col("da").as("d"), col("a").as("n")) <
      struct(col("db").as("d"), col("b").as("n"))
    val e = undirectedEdges.filter(col("a") < col("b"))
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .materialize()
    // EDGE-ITERATOR enumeration (r13, replaces the wedge self-join):
    // for each oriented edge (u,v), the triangles through it are
    // outN(u) ∩ outN(v) — orientation follows one total order, so
    // each triangle x<y<z is found exactly once (at (x,y) when the
    // third edge is y→z, at (x,z) when it is z→y), with center u=x
    // and the legs emitted id-ordered exactly like the old form.
    // Why it wins (guide §2.3): the old shape generated the Σoutdeg²
    // wedge stream as JOIN ROWS (12.5M rows at sf0.1 for 588k edges)
    // and probed each against the closing-edge set; this shape keeps
    // the same m^1.5 work INSIDE array_intersect over neighbor
    // arrays — no wedge-row stream exists at all, one broadcast of
    // the out-neighbor table, map-side per-edge intersect (probe:
    // 2.0-2.6s → 0.6-1.3s; rekeying corners to dense longs was
    // measured again and still only ~1.15× on top — declined, the
    // string corners stay oracle-verbatim). Edges whose v has no
    // out-neighbors can close nothing — the inner join drops them.
    // Out-degree under this orientation is O(√m), so no neighbor
    // array (= no single row) exceeds that bound on any graph — at
    // the 100 TB shape the broadcast ceiling below falls back to a
    // shuffle join on u/v, where the bounded rows keep the exchange
    // skew-free where the wedge stream exploded hub-quadratically.
    val outN = e.groupBy(col("u"))
      .agg(array_sort(collect_list(col("v"))).as("ns"))
      .materialize()
    val (nx, ny) =
      if (e.count() <= triangleBroadcastEdges)
        (broadcast(outN.select(col("u"), col("ns").as("nxs"))),
          broadcast(outN.select(col("u").as("v"), col("ns").as("nys"))))
      else
        (outN.select(col("u"), col("ns").as("nxs")),
          outN.select(col("u").as("v"), col("ns").as("nys")))
    e.join(nx, "u").join(ny, "v")
      .select(col("u"), col("v"),
        explode(array_intersect(col("nxs"), col("nys"))).as("z"))
      .select(col("u"), least(col("v"), col("z")).as("w1"),
        greatest(col("v"), col("z")).as("w2"))
  }

  /** Edge-count ceiling for broadcasting the triangle-closure side. */
  val triangleBroadcastEdges = 1000000L

  /** PageRank, `iters` fixed rounds, uniform or seeded teleport. Round =
    * edges ⋈ rank-state + contribution group-by + base left-join:
    * two joins and one aggregation. The adjacency is pre-partitioned
    * on the join key `a` so the big side is never re-exchanged, and
    * the rank state carries `share` = rank/deg so out-degree is not
    * re-joined every round.
    *
    * With a `seed`, the same rounds compute personalized PageRank:
    * every rank starts at 1 on the seed and 0 elsewhere, and the
    * teleport term is (1 − d)·1[v = seed], so rank measures
    * proximity to the seed. A seed absent from the graph leaves
    * every rank at 0.
    *
    * Dual regime, like [[kCore]]: under `graft.graph.broadcastEdges`
    * the same unnormalized update runs on the driver over the frame's
    * held adjacency ([[onAdjacency]]); the values differ from the
    * rounds only by summation order, in the last ulp. Contract notes:
    * rows with a null id are dropped in both regimes, only the rounds'
    * nodes (ids seen as `a`) get a row, a node's share splits over all
    * its rows, and only STRING adjacencies take the kernel (see
    * [[stringIds]]). */
  def pageRank(undirectedEdges0: DataFrame, iters: Int = 10,
      damping: Double = 0.85, seed: Option[String] = None): DataFrame =
    if (kernelEligible(undirectedEdges0))
      onAdjacency(undirectedEdges0, "rank")(g =>
        pageRankKernel(g, iters, damping, seed))
    else GraphBuilder.withAKeyed(undirectedEdges0) { keyed =>
    // (scoped: a one-shot input's repartitioned copy is freed on
    // return; the result below is rooted at its own checkpoints)
    val undirectedEdges = nonNullIds(keyed)
    // teleport indicator: 1 on every node, or only on the seed
    val teleport = seed.fold(lit(1.0))(s =>
      when(col("node") === lit(s), 1.0).otherwise(0.0))
    // base: (node, deg) — every node of an undirected adjacency has
    // at least one edge, so the group-by covers all nodes
    val base = undirectedEdges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg")).materialize()
    var ranks = base.select(col("node"), teleport.as("rank"),
      (teleport / col("deg")).as("share")).materialize()
    for (_ <- 1 to iters) {
      val contribs = undirectedEdges
        .join(ranks.select(col("node"), col("share")), col("a") === col("node"))
        .select(col("b").as("node"), col("share"))
        .groupBy("node").agg(sum("share").as("csum"))
      // checkpoint every round: the next round joins ranks against
      // the full edge list, so recomputing chained rounds (lazier
      // cadences) costs more than the materialization job
      ranks = base.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * teleport +
            lit(damping) * coalesce(col("csum"), lit(0.0))).as("rank"),
          col("deg"))
        .withColumn("share", col("rank") / col("deg"))
        .drop("deg")
        .materialize()
    }
    ranks.select("node", "rank")
  }

  /** The rounds' update, as index arrays: each node pushes
    * share = rank/deg to its out-list, then
    * rank = (1 − d)·t(v) + d · Σ shares received, where the teleport
    * t is 1 everywhere, or 1 on the seed and 0 elsewhere. A sink
    * receives shares but, like the rounds' base, gets no row. */
  private def pageRankKernel(g: Csr, iters: Int,
      damping: Double, seed: Option[String]): Seq[(String, Double)] = {
    val s = seed.map(g.indexOf) // Some(-1) when absent: all zeros
    val teleport = Array.tabulate(g.n)(v => if (s.forall(_ == v)) 1.0 else 0.0)
    var rank = teleport
    for (_ <- 1 to iters) {
      val csum = new Array[Double](g.n)
      for (v <- 0 until g.n) {
        val share = rank(v) / g.deg(v)
        for (e <- g.nbrs(v)) csum(g.dst(e)) += share
      }
      rank = Array.tabulate(g.n)(v =>
        (1.0 - damping) * teleport(v) + damping * csum(v))
    }
    (0 until g.n).filter(g.deg(_) > 0).map(v => (g.ids(v), rank(v)))
  }

  /** Connected components by min-label propagation: every node takes
    * the minimum label in its closed neighborhood until fixpoint.
    * Converges in O(component diameter) rounds; each round is one
    * aggregation shuffle. Returns (node, component) with the
    * component named by its smallest member in Spark's string order.
    *
    * Dual regime, like [[kCore]]: under `graft.graph.broadcastEdges`
    * the driver traverses the frame's held adjacency once
    * ([[onAdjacency]]) — exact, the same map as the rounds. Contract
    * notes: labels flow along `(a, b)` rows, so on an asymmetric
    * frame a node takes the smallest id that reaches it, in both
    * regimes; `maxIter` does not apply below the ceiling (the
    * traversal always finishes, so the convergence-failure throw is a
    * rounds-only behavior), rows with a null id are dropped in both
    * regimes, and only STRING adjacencies take the kernel. */
  def connectedComponents(undirectedEdges0: DataFrame,
      maxIter: Int = 50): DataFrame =
    if (kernelEligible(undirectedEdges0))
      onAdjacency(undirectedEdges0, "component")(componentsKernel)
    else GraphBuilder.withAKeyed(undirectedEdges0) { keyed =>
    val undirectedEdges = nonNullIds(keyed)
    var labels = undirectedEdges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).materialize()
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      iter += 1
      // self rows carry the previous label in `old` (each node has
      // exactly one), so convergence falls out of the same
      // aggregation — no second join-the-frames job per round
      val next = undirectedEdges
        .join(labels, col("a") === col("node"))
        .select(col("b").as("node"), col("label"),
          lit(null).cast(labels.schema("label").dataType).as("old"))
        .unionByName(labels.withColumn("old", col("label")))
        .groupBy("node").agg(min("label").as("label"), min("old").as("old"))
        .materialize()
      changed = next.filter(col("label") =!= col("old")).limit(1).count() > 0
      labels = next.select("node", "label")
    }
    // silent non-convergence would hand back members of one
    // component with different labels — fail loudly instead
    if (changed) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds — " +
        "a component's diameter exceeds maxIter; raise it")
    labels.withColumnRenamed("label", "component")
  }

  /** One depth-first sweep in index order: each node takes the first,
    * i.e. smallest, index that reaches it — the rounds' `min(label)`. */
  private def componentsKernel(g: Csr): Seq[(String, String)] = {
    val comp = Array.fill(g.n)(-1)
    val stack = new Array[Int](g.n) // each node is pushed at most once
    for (s <- 0 until g.n if comp(s) < 0) {
      comp(s) = s
      stack(0) = s
      var top = 1
      while (top > 0) {
        top -= 1
        val v = stack(top)
        for (e <- g.nbrs(v)) {
          val u = g.dst(e)
          if (comp(u) < 0) { comp(u) = s; stack(top) = u; top += 1 }
        }
      }
    }
    g.ids.indices.map(v => (g.ids(v), g.ids(comp(v))))
  }

  /** k-core decomposition by h-index iteration (Lü et al., "The
    * H-index of a network node", Nature Comm. 2016): start every
    * node at its degree and repeatedly replace each estimate with
    * the h-index of its neighbors' estimates — the fixpoint is
    * exactly the core number. Deterministic (no tie-breaks, values
    * only decrease), one aggregation shuffle per round, and
    * convergence falls out of the round's own aggregation like
    * [[connectedComponents]]. Per-node aggregation state is the
    * neighbor-estimate list (O(degree), the same bound as a Pregel
    * neighbor-collecting superstep); the h-index itself is
    * order-free, so skew-salting the collect would compose if a
    * pathological degree ever demanded it. Returns (node, core).
    *
    * Dual regime: under the broadcast ceiling
    * (`graft.graph.broadcastEdges`) the decomposition runs on the
    * driver over the frame's held adjacency ([[onAdjacency]]) — exact
    * Batagelj–Zaveršnik bucket peeling, O(E), whose output IS the
    * h-index fixpoint (both equal the core number, Lü et al. Thm 1)
    * — because below ~1M edges the distributed form's cost is pure
    * round overhead (~10 convergence rounds × collect_list shuffle +
    * checkpoint + convergence job for milliseconds of actual work).
    * Past the ceiling the rounds above are the scale shape and run
    * unchanged; spec pins regime equality. Contract notes: the input
    * is the symmetric adjacency (on an asymmetric frame the peeling
    * sees only the ids seen as `a`, and the regimes differ),
    * `maxIter` does not apply below the ceiling (peeling is exact and
    * always terminates, so the convergence-failure throw is a
    * rounds-only behavior), rows with a null id are dropped in both
    * regimes, and the kernel keys on STRING node columns — non-string
    * adjacencies ride the rounds at any size (see [[stringIds]]). */
  def kCore(undirectedEdges0: DataFrame, maxIter: Int = 50): DataFrame =
    if (kernelEligible(undirectedEdges0))
      onAdjacency(undirectedEdges0, "core")(kCoreKernel)
    else GraphBuilder.withAKeyed(undirectedEdges0) { keyed =>
    val undirectedEdges = nonNullIds(keyed)
    // h-index of a desc-sorted estimate list: |{i : s_i ≥ i+1}| —
    // the count form of "largest h with h values ≥ h"
    def hIndex(ests: Column): Column =
      size(filter(zip_with(
        sort_array(ests, asc = false),
        sequence(lit(1), size(ests)),
        (v, i) => v >= i), x => x))
    var core = undirectedEdges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("int").as("c")).materialize()
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      iter += 1
      // each node's own previous estimate rides along as `old` so
      // the convergence check reuses the round's aggregation
      val next = undirectedEdges
        .join(core, col("a") === col("node"))
        .select(col("b").as("node"), col("c"),
          lit(null).cast("int").as("old"))
        .unionByName(core.select(col("node"),
          lit(null).cast("int").as("c"), col("c").as("old")))
        .groupBy("node")
        .agg(hIndex(filter(collect_list(col("c")), c => c.isNotNull)).as("h"),
          max("old").as("old"))
        // estimates are non-increasing (h-index of neighbors can
        // exceed a shrunken own estimate mid-run; the min pins the
        // invariant the fixpoint proof relies on)
        .select(col("node"), least(col("h"), col("old")).as("c"), col("old"))
        .materialize()
      changed = next.filter(col("c") =!= col("old")).limit(1).count() > 0
      core = next.select("node", "c")
    }
    if (changed) throw new IllegalStateException(
      s"k-core did not converge in $maxIter rounds; raise maxIter")
    core.withColumnRenamed("c", "core")
  }

  /** Exact core numbers by bucket peeling (Batagelj & Zaveršnik
    * 2003). Integer-only — no FP wobble between regimes. A sink (an
    * id never seen as `a`) starts at 0, so it moves no estimate, and
    * is neither counted into a degree nor given a row. */
  private def kCoreKernel(g: Csr): Seq[(String, Int)] = {
    val n = g.n
    val core = Array.tabulate(n)(v =>
      g.nbrs(v).count(e => g.deg(g.dst(e)) > 0))
    if (n > 0) {
      val maxDeg = core.max
      // bin[d] = start offset of degree-d nodes in vert
      val bin = new Array[Int](maxDeg + 2)
      core.foreach(d => bin(d + 1) += 1)
      for (d <- 1 to maxDeg + 1) bin(d) += bin(d - 1)
      val pos = new Array[Int](n)
      val vert = new Array[Int](n)
      val fill = bin.clone()
      for (v <- 0 until n) { pos(v) = fill(core(v)); vert(pos(v)) = v; fill(core(v)) += 1 }
      for (i <- 0 until n) {
        val v = vert(i)
        for (e <- g.nbrs(v)) {
          val u = g.dst(e)
          if (core(u) > core(v)) {
            // swap u with the first vertex of its bucket, then
            // shrink the bucket boundary and u's core by one
            val du = core(u); val pu = pos(u)
            val pw = bin(du); val w = vert(pw)
            if (u != w) {
              pos(u) = pw; vert(pw) = u
              pos(w) = pu; vert(pu) = w
            }
            bin(du) += 1
            core(u) -= 1
          }
        }
      }
    }
    (0 until n).filter(g.deg(_) > 0).map(v => (g.ids(v), core(v)))
  }

  /** Edge-count ceiling (`graft.graph.broadcastEdges`) for the
    * kernel regimes of eight verbs: the driver kernels of
    * [[pageRank]], [[connectedComponents]], [[labelPropagation]],
    * [[kCore]], the seed-parallel sweeps of [[betweenness]], and
    * `Traversal.bfsLevels`, `pathBetween` and `shortestPathsWeighted`.
    * All eight read the frame's one held [[Csr]]: 4 B per row of
    * targets (12 B with weights) plus |V| offsets and ids, ~8–24 MB at
    * ~2M directed rows. The build's transient peak is the tasks'
    * collected parts, two `Int`s per row (plus a `Double` with
    * weights) and each task's distinct ids once (~16–32 MB plus ids at
    * the ceiling) — under the ~60 B/edge of a hash-join relation, so
    * the ceiling sits above [[triangleBroadcastEdges]] at the same
    * memory envelope. */
  val broadcastEdges = 2000000L

  /** One conf-ceiling parse for the regime gates. Malformed values
    * fall back to the default silently — these are perf knobs, not
    * semantics (unlike graft.checkpoint.mode, which fails loudly). */
  private def confLong(spark: org.apache.spark.sql.SparkSession,
      key: String, default: Long): Long =
    spark.conf.getOption(key)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(default)

  /** Both key columns are strings. The kernels key nodes by their
    * string ids; casting non-string ids would silently flip
    * the output schema (and a bigint-vs-string result join coerces
    * through double, mis-comparing 64-bit ids above 2^53) — so
    * non-string adjacencies take the type-generic shuffle regime at
    * any size. */
  private def stringIds(edges: DataFrame): Boolean = {
    val st = org.apache.spark.sql.types.StringType
    edges.schema.fields.take(2).forall(_.dataType == st)
  }

  /** Gate of a broadcast regime with its own ceiling: string ids and
    * at most `ceiling` rows, by one count of the caller's frame. */
  private def broadcastRegimeEligible(edges: DataFrame,
      ceiling: Long): Boolean =
    stringIds(edges) && edges.count() <= ceiling

  /** The one gate of the eight kernel verbs: string ids and at
    * most `graft.graph.broadcastEdges` rows. The row count lives in
    * the frame's [[adjBcastCache]] entry, so a repeated call compares
    * the held count with the CURRENT ceiling and runs no count job
    * (lowering the ceiling below it sends the next call to the
    * rounds). A frame with no entry is counted once; if it is within
    * the ceiling its entry is built here, so the kernel that follows
    * finds it, and a frame above the ceiling gets no entry — nothing
    * pins a big frame's adjacency. */
  private[graph] def kernelEligible(edges: DataFrame): Boolean =
    stringIds(edges) && {
      val ceiling = confLong(edges.sparkSession,
        "graft.graph.broadcastEdges", broadcastEdges)
      adjBcastCache.get(edges) match {
        case Some(held) => held.rows <= ceiling
        case None =>
          val rows = edges.count()
          val within = rows <= ceiling
          if (within) adjacencyEntry(edges, rows)
          within
      }
    }

  /** Rows with a null endpoint, dropped by every regime: the rounds'
    * equi-joins never match a null id, but their group-bys would
    * still emit a null node (and count its rows into a neighbor's
    * degree) that the null-free [[Csr]] has not. */
  private[graph] def nonNullIds(edges: DataFrame): DataFrame =
    edges.filter(col("a").isNotNull && col("b").isNotNull)

  /** Kernel regime of [[pageRank]], [[connectedComponents]],
    * [[labelPropagation]] and [[kCore]]: `kernel` runs on the driver
    * over the frame's held [[Csr]], and its (node, `valueCol`) rows
    * are a local relation, so building and collecting the result runs
    * no Spark job. Below the ceiling the rounds' cost is pure per-job
    * overhead for milliseconds of work. */
  private def onAdjacency[V: scala.reflect.runtime.universe.TypeTag](
      undirectedEdges: DataFrame, valueCol: String)(
      kernel: Csr => Seq[(String, V)]): DataFrame = {
    val spark = undirectedEdges.sparkSession
    import spark.implicits._
    kernel(adjacency(undirectedEdges)).toDF("node", valueCol)
  }

  /** HyperBall-style neighborhood-function estimation: for EVERY
    * node at once, the approximate count of nodes within `maxDepth`
    * hops (self included) — per-node HLL sketches (Datasketches,
    * via Spark's `hll_sketch_agg`/`hll_union_agg`), where round t+1
    * unions each node's sketch with its neighbors' round-t sketches:
    * ball_{t+1}(v) = {v} ∪ ⋃_{u∈N(v)} ball_t(u).
    *
    * This is THE 100 TB shape for reach/centrality questions: exact
    * k-hop frontiers blow up combinatorially (the k-th adjacency
    * power), while sketches keep per-node state at ~KBs and each
    * round at ONE join + one mergeable aggregation — the same
    * exchange pattern as PageRank. HLL register merges are max-based,
    * so the result is deterministic and insertion-order-free;
    * relative error ~1.6 % at the default lgk=12 (pinned against
    * exact 3-hop counts in the spec). Rounds chain lazily like LPA —
    * fixed small depth needs no lineage truncation. */
  def neighborhoodSizes(undirectedEdges: DataFrame,
      maxDepth: Int): DataFrame =
    ballSizes(undirectedEdges, maxDepth).select(col("node"),
      col(s"s$maxDepth").cast("long").as("est_reach"))

  /** Harmonic centrality for EVERY node, HyperBall-estimated
    * (Boldi & Vigna 2014): H(v) = Σ_{u≠v} 1/d(u,v), accumulated from
    * the ball-size deltas H(v) ≈ Σ_t (|ball_t(v)| − |ball_{t−1}(v)|)/t.
    * Exact all-pairs BFS is |V| frontier expansions — quadratic
    * output at 100 TB — while this is a per-row sum over the shared
    * memoized [[ballSizes]] curve (one join + one mergeable HLL
    * union-agg per round, paid once for the whole family).
    *
    * At small cardinalities the HLL sketch is exact (sparse register
    * mode), so the spec pins exact harmonic values on a path graph;
    * at scale the estimate inherits HLL's ~1.6 % relative error
    * (lgk=12). */
  def harmonicCentrality(undirectedEdges: DataFrame,
      maxDepth: Int): DataFrame = {
    // fold in ascending t so the additions run in the SAME IEEE order
    // as the former in-round accumulator (h ← h + Δ_t/t): any other
    // association could wobble the last ulp vs the spec's pins
    val h = (0 until maxDepth).foldLeft(lit(0.0)) { (acc, i) =>
      acc + (col(s"s${i + 1}") - col(s"s$i")) / lit((i + 1).toDouble)
    }
    ballSizes(undirectedEdges, maxDepth)
      .select(col("node"), round(h, 4).as("harmonic"))
  }

  /** Eccentricity (longest shortest path out of each node), HyperBall-
    * estimated and capped at `maxDepth`: ecc(v) = the last round t at
    * which v's ball still grew — a per-row fold over the shared
    * memoized [[ballSizes]] curve. The all-pairs-BFS exact
    * form is quadratic output; this is THE 100 TB shape for
    * radius/diameter questions (HyperBall's original use case —
    * Boldi & Vigna ran Facebook's diameter with it).
    *
    * Estimates: at small cardinalities the HLL sketch is exact
    * (sparse mode) so ecc is exact on spec-sized graphs; at scale a
    * ±1.6 % register wobble can miss a sub-2 % final-ring growth —
    * fine for the radius/diameter distributions this feeds.
    * `maxDepth` caps rounds, so disconnected or huge-diameter graphs
    * report min(ecc, maxDepth) — the bounded-round contract every
    * HyperBall user accepts. */
  def eccentricity(undirectedEdges: DataFrame, maxDepth: Int): DataFrame = {
    // fold in ascending t replays the former per-round update
    // ecc ← if |ball_t| > |ball_{t−1}| then t else ecc — the LAST
    // round with growth wins, identical comparisons on the same
    // estimate doubles
    val ecc = (1 to maxDepth).foldLeft(lit(0)) { (acc, t) =>
      when(col(s"s$t") > col(s"s${t - 1}"), lit(t)).otherwise(acc)
    }
    ballSizes(undirectedEdges, maxDepth)
      .select(col("node"), ecc.as("ecc"))
  }

  /** Global neighborhood function N(t) = Σ_v |ball_t(v)| — the
    * number of reachable ordered pairs within t hops — ONE
    * posexplode + sum aggregation over the shared memoized
    * [[ballSizes]] curve. This is the curve behind "effective
    * diameter" (Palmer/Faloutsos ANF, HyperBall's headline
    * application). */
  def neighborhoodFunction(undirectedEdges: DataFrame,
      maxDepth: Int): DataFrame =
    ballSizes(undirectedEdges, maxDepth)
      .select(posexplode(
        array((0 to maxDepth).map(i => col(s"s$i")): _*)).as(Seq("t", "est")))
      .groupBy("t").agg(round(sum("est"), 1).as("n_pairs"))

  /** The ONE ball-growth pass behind the whole HyperBall family —
    * per-node per-round ball-size estimates (node, s0..sD), memoized
    * per adjacency frame instance like the triangle enumeration.
    * g_neighborhood_est / g_harmonic / g_eccentricity / g_diameter
    * each previously re-ran near-identical rounds over the same
    * edges (~30 s combined in BENCH_r06); every one of their outputs
    * is a pure per-row (or one tiny agg) function of this frame, so
    * the rounds now run ONCE per graph and the four queries share the
    * materialized result. A deeper request than the cached depth
    * rebuilds and replaces (derivations only ever read s0..sD_req).
    *
    * The per-round sizes travel as ONE SCALAR COLUMN EACH (s0..sD),
    * not an array: Spark's `max` over an ArrayType falls to the
    * interpreted ordering on every partial-agg update row — measured
    * 57.9 s in-bench at sf0.1 for the array-state form vs 3.7 s for
    * scalar state on identical rounds; with scalar doubles the whole
    * agg stays codegen-comparable. Self-loops fold the "keep my own
    * ball" union INTO the join (ball_{t+1}(v) = ⋃_{u∈N(v)∪{v}}
    * ball_t(u)) and deliver each node's carried s_i back to its own
    * group, so each round references the previous state frame
    * exactly once — the single-reference lazy chain that benched
    * 2-9× faster than every multi-reference alternative (estimate
    * taps re-execute round prefixes, per-round localCheckpoint pays
    * block-manager pressure, persist() pins partitioning and blocks
    * AQE's shuffle→broadcast conversion for the round join). */
  def ballSizes(undirectedEdges: DataFrame, maxDepth: Int): DataFrame =
    ballCache(undirectedEdges, _._1 >= maxDepth) { _ =>
      // the eager localCheckpoint materializes the whole round
      // chain INSIDE the hash-agg scope
      val spark = undirectedEdges.sparkSession
      val nodes = undirectedEdges.select(col("a")).distinct()
      val nNodes = nodes.count()
      // conf override so tests can pin the shuffle-regime round
      // shape (per-round checkpoint) on spec-sized graphs
      val ceiling = spark.conf.getOption("graft.ball.broadcastNodes")
        .flatMap(v => scala.util.Try(v.toLong).toOption)
        .getOrElse(ballBroadcastNodes)
      val bcast = nNodes <= ceiling
      // graft.ball.lgk overrides the shuffle-regime register count:
      // every edge row hauls one serialized sketch per round there,
      // so register bytes ARE the round exchange (lgk=8 ≈ 296 B/row
      // measured; lgk=6 ≈ 2.6× smaller at ±13 % theoretical
      // per-node error — the SUMMED neighborhood curve averages
      // most of the wobble out; see SURVEY §13 for the measured
      // drift). The broadcast regime ignores the override — spec-
      // scale exactness (sparse-mode HLL) rides the lgk=10 path.
      val lgk = if (bcast) 10
        else spark.conf.getOption("graft.ball.lgk")
          .flatMap(v => scala.util.Try(v.toInt).toOption)
          .filter(v => v >= 4 && v <= 12).getOrElse(8)
      // per-round lineage truncation (see ballSizesBuild): default
      // follows the regime — off while the state broadcasts (the
      // lazy chain's measured fast path), on in the shuffle regime
      // where rounds × |E| × sketch-bytes is a real scratch-disk
      // budget. graft.ball.roundCheckpoint=true|false overrides
      // for operators whose cluster has ample per-node scratch
      // (trade peak disk back for round fusion) or probes.
      val roundCkpt = spark.conf.getOption("graft.ball.roundCheckpoint")
        .map(_.trim.equalsIgnoreCase("true")).getOrElse(!bcast)
      val built = withHashAgg(spark, hashAggThreshold(spark, lgk))(
        ballSizesBuild(undirectedEdges, nodes, bcast, lgk, maxDepth,
          roundCkpt).materialize())
      (maxDepth, built)
    }._2

  /** Memory-derived group cap for the sketch-union hash path. The
    * map-side ObjectHashAggregate holds one ~1.1 KB sketch buffer per
    * DISTINCT group the task sees, and on the shuffle path a
    * b-partitioned task can see EVERY node — so the cap must come
    * from the heap, not a flat constant: the flat 1M cap measured
    * ~35 GB of concurrent buffers at the 64× probe (1M nodes × 32
    * tasks) and OOM'd the 48 g bench heap, killing the session. Cap
    * so all concurrently running tasks' maps fit in a quarter of the
    * heap; past it the sort-based fallback engages (spillable,
    * memory-safe — the large-graph regime), below it the pure hash
    * path keeps the measured 57 s → 21 s win. Concurrency is
    * per-JVM tasks: executor cores on a cluster, defaultParallelism
    * in local mode (where they coincide). */
  private def hashAggThreshold(spark: org.apache.spark.sql.SparkSession,
      lgk: Int): Long = {
    // what the map holds per group is NOT the ~(1<<lgk)-byte
    // serialized sketch but a live datasketches Union gadget (HLL_8
    // register array downsampled to the input lgk, plus aux + JVM
    // overhead) — the 64× probe OOM'd even a 96 g heap inside
    // dumpToExternalSorter with a serialized-size-based cap before
    // this estimate was corrected. 4 KB of overhead headroom plus
    // 4 bytes/register is deliberately pessimistic.
    val unionGadgetBytes = 4096L + (4L << lgk)
    val tasks = spark.conf.getOption("spark.executor.cores")
      .flatMap(c => scala.util.Try(c.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism).max(1)
    // price RESIDENT storage into the budget: the agg map's buffers
    // are untracked JVM objects, so the unified memory manager never
    // sees their demand and never evicts cached blocks for them — a
    // session that already holds memoized artifacts (adjacency,
    // checkpointed round frames) has that much less heap than
    // maxMemory says. Measured: the 64× combined-heavies
    // run OOM'd the 48 g JVM on a maxMemory-only budget after
    // betweenness/LPA left ~tens of GB resident, while the identical
    // solo build passed. The /8 floor keeps a minimal hash window
    // (the fallback past it is spillable sort, correct either way).
    // the budget must be priced against the JVM the agg map LIVES in:
    // in local mode that is this JVM (Runtime heap), but on a cluster
    // it is an EXECUTOR heap — driver maxMemory says nothing about it
    // (a 64 g driver over 8 g executors would overshoot 8×, the exact
    // OOM class this cap exists to prevent). getRDDStorageInfo sums
    // cached bytes across ALL executors, so divide by executor count
    // for the per-JVM resident share before subtracting.
    val sc = spark.sparkContext
    val nExec = math.max(1,
      sc.statusTracker.getExecutorInfos.length - (if (sc.isLocal) 0 else 1))
    val heap =
      if (sc.isLocal) Runtime.getRuntime.maxMemory
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.getOption("spark.executor.memory").getOrElse("1g"))
    val resident = scala.util.Try(
      sc.getRDDStorageInfo.map(_.memSize).sum).getOrElse(0L) / nExec
    val budget = math.max(heap / 8, heap - resident) / 4 / tasks
    math.max(128L, math.min(1L << 20, budget / unionGadgetBytes))
  }

  /** Run `f` with ObjectHashAggregate's sort-based fallback threshold
    * raised from its default 128 groups/partition to `threshold`
    * (memory-derived — see [[hashAggThreshold]]). The HLL union
    * rounds aggregate |V| groups of ~1 KB sketch buffers; past the
    * threshold Spark switches to SORT-BASED TypedImperativeAggregate,
    * which serializes the buffer per input row — measured 57 s vs
    * 21 s for the identical sf0.1 ball build — but is spillable and
    * memory-safe, which the hash map is not (the 64× probe OOM).
    * SCOPED, not session-global: list-building aggregates with the
    * opposite profile (k-core's collect_list of neighbor estimates
    * measured 4× SLOWER on the hash path — boxed-list churn beats
    * radix-sorting small fixed-width rows) keep the default. The
    * previous value is restored even on failure. */
  private def withHashAgg[A](
      spark: org.apache.spark.sql.SparkSession, threshold: Long)(f: => A): A = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, threshold.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val ballCache = new Memos.Memo[DataFrame, (Int, DataFrame)](8, derived = true)

  /** Node-count ceiling for broadcasting the per-round sketch state:
    * |V| × ~1.1 KB (lgk=10 dense sketch + carries) ≤ ~256 MB. Below
    * it each round is a map-side broadcast join + LOCAL aggregation —
    * zero exchange per round; above it the round falls back to the
    * shuffle form (edges pre-partitioned on the join key), the same
    * envelope as PageRank. */
  val ballBroadcastNodes = 240000L

  private def ballSizesBuild(undirectedEdges: DataFrame,
      nodes: DataFrame, bcast: Boolean, lgk: Int,
      maxDepth: Int, roundCkpt: Boolean): DataFrame = {
    // broadcast path: partition edges by the OUTPUT key `a`, so the
    // map-side join's result feeds groupBy(a) with no exchange at
    // all — the per-round cost is |E| local hash probes + unions
    // plus one |V|-sized state broadcast. Shuffle path: partition by
    // the join key `b` so the state join never re-exchanges the big
    // side, and the groupBy(a) exchange moves partial-agged sketches.
    //
    // r12: the repartition must live IN-PLAN over the checkpoint,
    // not inside it — under AQE a localCheckpoint's LogicalRDD
    // reports UnknownPartitioning, so the old repartition-then-
    // checkpoint shape made every round's groupBy(node) re-exchange
    // |E| rows WITH their ~1.1 KB sketches (the r12 LPA finding,
    // executed-plan-verified; here the payload is the sketch, so the
    // removed exchanges are the round's dominant bytes). In-plan,
    // the identical Exchange(a) subtrees dedupe via ReuseExchange in
    // the broadcast regime's single-execution chain: measured
    // (r12 A/B at sf0.1, OPTIMIZATION_r12.md "What this session
    // changed" #3; plans/r12/g_diameter_{before,after}.txt) stages
    // 18 → 11, shuffle write 46.3 → 8.1 MB, best wall 5.59 → 3.33 s. The shuffle regime's
    // per-round executions (roundCkpt) cannot reuse across rounds —
    // for them the in-plan exchange costs exactly what the
    // EnsureRequirements one did before.
    // numPartitions pinned (REPARTITION_BY_NUM): a bare
    // repartition(col) is REPARTITION_BY_COL, which AQE coalesces by
    // BYTES — the thin (a,b) exchange packs into 1-2 partitions and
    // every fused round (join + the CPU-heavy sketch unions) then
    // runs 1-2-wide. First measurement of this change had exactly
    // that: legs 18-23 s vs 5.6 baseline with "AQEShuffleRead
    // coalesced" over the reused exchange. The pin follows
    // spark.sql.shuffle.partitions, the session's scale knob.
    val nShuf = undirectedEdges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val edges = undirectedEdges
      .unionByName(nodes.select(col("a"), col("a").as("b")))
      .materialize()
      .repartition(nShuf, if (bcast) col("a") else col("b"))
    // sketch precision by graph size: lgk=10 (±3.3 %) while the
    // state still broadcasts; lgk=8 (±6.5 %) on the shuffle path —
    // HyperBall's own billion-node runs used 2^7-2^9 registers
    // (Boldi & Vigna 2014 §4), and above the broadcast ceiling every
    // edge row hauls a sketch per round, so register bytes ARE the
    // round cost (4× smaller sketches AND 4× smaller union gadgets
    // in the aggregation map; the 64× probe OOM'd on the latter).
    // Spec-scale behavior (sparse-mode exactness on small graphs,
    // the ≤15 % 3-hop pin) rides the unchanged lgk=10 path.
    // |ball_0| = 1 exactly (single-item sparse sketch)
    var state = nodes.select(col("a").as("node"))
      .groupBy("node").agg(expr(s"hll_sketch_agg(node, $lgk)").as("sketch"))
      .withColumn("s0", lit(1.0))
    for (t <- 1 to maxDepth) {
      val carry = (0 until t).map(i => col(s"s$i"))
      val st = if (bcast) broadcast(state) else state
      val joined = edges.join(st, edges("b") === st("node"))
        .select(Seq(edges("a").as("node"),
          (edges("b") === edges("a")).as("self"),
          col("sketch")) ++ carry: _*)
      val aggs = (0 until t)
        .map(i => max(when(col("self"), col(s"s$i"))).as(s"s$i"))
      state = joined.groupBy("node")
        .agg(expr("hll_union_agg(sketch, true)").as("sketch"), aggs: _*)
        .withColumn(s"s$t", expr("hll_sketch_estimate(sketch)"))
      // Shuffle regime only: checkpoint the |V|-sized round state so
      // round t-1's EDGE-sized shuffle legs become garbage the
      // ContextCleaner can reclaim. The lazy single-reference chain
      // (kept on the broadcast path, where it benched 2-9× faster)
      // pins every round's shuffle files until the final checkpoint —
      // peak shuffle disk = rounds × |E|-with-sketch bytes, which is
      // what killed the 256× probe (~5 rounds × ~20 GB against 68 GB
      // free; a cluster's aggregate disk absorbs this, one host's
      // does not). Per-round truncation bounds the peak at ~1 round
      // plus the |V|-sized states; HLL register merge is
      // max-per-register (commutative/associative), so values are
      // unchanged by the materialization boundary.
      if (roundCkpt) state = state.materialize()
    }
    // the sketches did their job — only the scalar curve is memoized
    state.select(col("node") +: (0 to maxDepth).map(i => col(s"s$i")): _*)
  }

  /** Effective diameter from the neighborhood function: the
    * interpolated hop count where N(t) first covers `q` of the
    * final reach (ANF's definition — linear interpolation between
    * the bracketing rounds). One window over a maxDepth-row frame. */
  def effectiveDiameter(nf: DataFrame, q: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("t")
    val target = nf.agg((max("n_pairs") * lit(q)).as("target"))
    nf.crossJoin(broadcast(target))
      .withColumn("prev", lag(col("n_pairs"), 1).over(w))
      .filter(col("n_pairs") >= col("target") &&
        (col("prev").isNull || col("prev") < col("target")))
      .select(round(
        when(col("prev").isNull, col("t"))
          .otherwise(col("t") - 1 + (col("target") - col("prev"))
            / (col("n_pairs") - col("prev"))), 4)
        .as("eff_diameter"))
  }

  /** Betweenness centrality, source-sampled Brandes (Brandes 2001;
    * sampling estimator per Brandes & Pich 2007): run the
    * forward-BFS + backward-dependency sweep from `k` hash-chosen
    * seed nodes — ALL seeds batched through the same jobs, keyed by
    * (source, node) — and scale the dependency sums by n/k.
    * BC(v) ≈ (n/k)/2 · Σ_s δ_s(v) on an undirected graph.
    *
    * Exact all-sources Brandes is |V| sweeps (the (s, v) state is
    * quadratic — a non-starter at 100 TB); the k-sample estimator is
    * THE published scale form, state bounded at k·|V| rows. Forward
    * round t: one edge join + σ-sum agg + anti join against settled
    * (shortest-path counts arrive exactly: only depth-(t−1) frontier
    * rows feed depth-t candidates). Backward sweep per depth: one
    * reversed edge join + one agg, reusing the settled frame's depth
    * slices. All shuffles keyed (s, v); rounds capped at `maxDepth`
    * (truncated/k-bounded betweenness — the standard bounded-radius
    * variant — on graphs whose diameter exceeds it).
    *
    * Seeds are the k smallest md5(node) — uniform over nodes,
    * deterministic, replayable by any engine. δ sums are doubles;
    * output rounds to 6 (FP addition order across partitions can
    * wobble the last bits, same contract as PageRank).
    *
    * Two regimes, same dual-regime convention as [[ballSizes]] and
    * the triangle closure: while the adjacency fits the broadcast
    * ceiling, the sweeps run SEED-PARALLEL on the driver — Brandes'
    * sources are independent, the textbook parallelization — over the
    * frame's held [[Csr]] (one tiny (v, δ) aggregation instead of
    * ~2·maxDepth join/agg/checkpoint rounds whose per-round job
    * cost dominates below cluster scale). Past the ceiling the
    * DataFrame rounds above are the right shape — k·|V| state rows
    * shuffling on (s, v) — and run unchanged
    * (`graft.graph.broadcastEdges` overrides the ceiling, as for the
    * other kernels; spec pins regime equality). */
  def betweenness(undirectedEdges: DataFrame, k: Int = 16,
      maxDepth: Int = 4): DataFrame = {
    // a null id is no node (see [[nonNullIds]]): it must not count
    // into n, be drawn as a seed or get an output row
    val nodes = undirectedEdges.select(col("a")).filter(col("a").isNotNull)
      .distinct().materialize(true)
    val n = nodes.count()
    val kk = math.min(k.toLong, n)
    // cast-to-string before md5: identity for the string-keyed query
    // path (oracle replays the same bytes), and it makes the seed
    // choice well-typed on numeric-id graphs (md5 takes binary)
    val seeds = nodes
      .orderBy(md5(col("a").cast("string")), col("a")).limit(kk.toInt)
      .select(col("a").as("s"))
    val deltas =
      if (kernelEligible(undirectedEdges))
        dependencyKernel(undirectedEdges, seeds, maxDepth)
      else dependencyShuffle(undirectedEdges, seeds, maxDepth)
    val scale = n.toDouble / kk.toDouble / 2.0
    nodes.join(deltas.groupBy("v").agg(sum("delta").as("delta")),
        nodes("a") === col("v"), "left_outer")
      .select(nodes("a").as("node"),
        round(coalesce(col("delta"), lit(0.0)) * lit(scale), 6)
          .as("betweenness"))
  }

  /** Memoized adjacency behind the kernel regimes, one [[Csr]] per
    * frame instance, held on the driver: [[betweenness]], the
    * [[onAdjacency]] kernels and the traversal kernels read the same
    * arrays. Eviction and `Memos.resetDerived` drop it. */
  // admits every frame, not only stable ones: a caller may hand
  // several verbs one unmarked frame (kCore, LPA and betweenness over
  // one `und` per pass) and they share this entry. The build is an
  // eager collect, so racing first calls for one frame build it once
  // under the memo's per-key lock. Only frames within the ceiling get
  // an entry ([[kernelEligible]])
  private val adjBcastCache = new Memos.Memo[DataFrame, AdjEntry](8, derived = true)

  /** An [[adjBcastCache]] entry: the row count of the frame it was
    * built for (the gate's measure) and its adjacency. */
  private final case class AdjEntry(rows: Long, csr: Csr)

  private def adjacencyEntry(edges: DataFrame, rows: => Long): AdjEntry =
    adjBcastCache(edges)(AdjEntry(rows, Csr(edges)))

  /** The held [[Csr]] of a frame that passed [[kernelEligible]]. */
  private[graph] def adjacency(edges: DataFrame): Csr =
    adjacencyEntry(edges, edges.count()).csr

  /** An adjacency in CSR form: node ids sorted once in Spark's string
    * order — UTF-8 bytes, as `UTF8String` compares; JVM `String` order
    * is UTF-16 and disagrees on supplementary characters — so the
    * smallest index is the id the rounds' `min` and `min_by` elect.
    * Node v's neighbors are `dst(off(v) until off(v + 1))`, repeated
    * rows kept so a repeated row counts twice, as in the rounds. The
    * nodes are every non-null `a` and `b` id, so a sink (an id never
    * seen as `a`) has an empty range. For a weighted `(a, b, w)` frame
    * `w` holds the weights aligned with `dst`, NaN for a null weight;
    * it is null otherwise. */
  private[graph] final class Csr(val ids: Array[String],
      val off: Array[Int], val dst: Array[Int], val w: Array[Double]) {
    def n: Int = ids.length
    def deg(v: Int): Int = off(v + 1) - off(v)

    def nbrs(v: Int): Range = off(v) until off(v + 1)

    /** The index of `id`, or -1 when it is no node. */
    def indexOf(id: String): Int = -1 max java.util.Arrays.binarySearch(ids, id,
      (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
  }

  private[graph] object Csr {
    /** One collect of per-task dictionaries: each task maps the ids of
      * its `(a, b[, w])` rows to local indexes through a `UTF8String`
      * table and ships each distinct id's bytes once plus one `Int` per
      * endpoint. The driver merges the tasks' ids into one table,
      * sorts them, and counting-sorts the rows by `a` (arrival order
      * within a node); only the |V| ids become `String`s. */
    def apply(undirectedEdges: DataFrame): Csr = {
      val weighted = undirectedEdges.columns.contains("w")
      // a null weight becomes NaN, so every verb sees the same neighbor
      // list and only the weighted kernel skips it
      val cols = Seq(col("a").cast("string"), col("b").cast("string")) ++
        (if (weighted) Seq(coalesce(col("w").cast("double"), lit(Double.NaN)))
        else Nil)
      // null ids are dropped, as in the rounds ([[nonNullIds]])
      val parts = nonNullIds(undirectedEdges).select(cols: _*).queryExecution
        .toRdd.mapPartitions { rows =>
          val local = new Dictionary
          val (src, tgt) = (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt)
          val ws = new mutable.ArrayBuilder.ofDouble
          while (rows.hasNext) {
            val r = rows.next()
            src += local.id(r.getUTF8String(0))
            tgt += local.id(r.getUTF8String(1))
            if (weighted) ws += r.getDouble(2)
          }
          Iterator(Part(local.keys.map(_.getBytes).toArray, src.result(),
            tgt.result(), if (weighted) ws.result() else null))
        }.collect()
      val ids = new Dictionary
      val global = parts.map(_.ids.map(b => ids.id(UTF8String.fromBytes(b))))
      val sorted = ids.keys.toArray
      java.util.Arrays.sort(sorted, (x: UTF8String, y: UTF8String) => x.compareTo(y))
      val rank = new Array[Int](sorted.length)
      for (i <- sorted.indices) rank(ids.id(sorted(i))) = i
      // each task's local index → final index
      val toFinal = global.map(_.map(rank))
      val off = new Array[Int](sorted.length + 1)
      for ((p, f) <- parts.zip(toFinal); e <- p.src.indices) off(f(p.src(e)) + 1) += 1
      for (v <- 1 to sorted.length) off(v) += off(v - 1)
      val fill = off.clone()
      val dst = new Array[Int](off(sorted.length))
      val w = if (weighted) new Array[Double](dst.length) else null
      for ((p, f) <- parts.zip(toFinal); e <- p.src.indices) {
        val at = fill(f(p.src(e)))
        fill(f(p.src(e))) += 1
        dst(at) = f(p.tgt(e))
        if (weighted) w(at) = p.w(e)
      }
      new Csr(sorted.map(_.toString), off, dst, w)
    }

    /** One task's rows: its distinct ids' UTF-8 bytes, and per row the
      * local indexes of `a` and `b` (and the weight). */
    private final case class Part(ids: Array[Array[Byte]], src: Array[Int],
        tgt: Array[Int], w: Array[Double])

    /** Indexes in first-seen order; a new key is copied out of its row,
      * whose buffer the scan may reuse. */
    private final class Dictionary {
      private val index = new java.util.HashMap[UTF8String, Integer]
      val keys = mutable.ArrayBuffer.empty[UTF8String]
      def id(k: UTF8String): Int = {
        val i = index.get(k)
        if (i != null) i
        else { val c = k.clone(); index.put(c, keys.length); keys += c; keys.length - 1 }
      }
    }
  }

  /** Kernel regime of [[betweenness]]: per-seed truncated Brandes
    * (forward BFS with σ path counts, backward dependency sweep) over
    * the held [[Csr]], seeds in parallel on the JDK's common fork-join
    * pool. Emits each reached node's (v, δ) summed over the seeds in
    * seed order, depths 1..maxDepth — the sums of the rows the shuffle
    * regime's `acc` carries. σ sums are integers-in-doubles (exact in
    * any order); δ addition order differs from the distributed agg
    * only in the last ulp, absorbed by the caller's 6-decimal
    * rounding like every other double reduction in this file. */
  private def dependencyKernel(undirectedEdges: DataFrame,
      seeds: DataFrame, maxDepth: Int): DataFrame = {
    val spark = undirectedEdges.sparkSession
    import spark.implicits._
    val g = adjacency(undirectedEdges)
    val seedIdx = seeds.select(col("s").cast("string")).as[String].collect()
      .map(g.indexOf).filter(_ >= 0)
    // per seed, in seed order: the nodes reached at depth ≥ 1 and their δ
    val sweeps = java.util.stream.IntStream.range(0, seedIdx.length).parallel()
      .mapToObj(i => brandes(g, seedIdx(i), maxDepth)).toList.asScala
    val total = mutable.HashMap.empty[Int, Double]
    for ((vs, ds) <- sweeps; i <- vs.indices)
      total(vs(i)) = total.getOrElse(vs(i), 0.0) + ds(i)
    total.toSeq.map { case (v, d) => (g.ids(v), d) }.toDF("v", "delta")
  }

  /** One seed's sweep of [[dependencyKernel]]. */
  private def brandes(g: Csr, s: Int,
      maxDepth: Int): (Array[Int], Array[Double]) = {
    val depth = Array.fill(g.n)(-1)
    val sigma = new Array[Double](g.n)
    val delta = new Array[Double](g.n)
    depth(s) = 0; sigma(s) = 1.0
    val levels = mutable.ArrayBuffer(Array(s))
    var t = 1
    while (t <= maxDepth && levels.last.nonEmpty) {
      val found = mutable.ArrayBuffer.empty[Int]
      for (v <- levels.last; e <- g.nbrs(v)) {
        val w = g.dst(e)
        if (depth(w) < 0) { depth(w) = t; sigma(w) = sigma(v); found += w }
        else if (depth(w) == t) sigma(w) += sigma(v)
      }
      levels += found.toArray
      t += 1
    }
    // deepest level first: a node's δ is final before it is read,
    // because contributions only flow downward in depth
    for (d <- levels.length - 1 to 1 by -1; w <- levels(d); e <- g.nbrs(w)) {
      val v = g.dst(e)
      if (depth(v) == d - 1) delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
    }
    val vs = levels.iterator.drop(1).flatten.toArray
    (vs, vs.map(delta))
  }

  /** Shuffle regime of [[betweenness]] — the DataFrame-iterative
    * rounds described in its scaladoc; returns the (s, v, delta)
    * dependency rows for depths ≥ 1. */
  private def dependencyShuffle(undirectedEdges0: DataFrame,
      seeds: DataFrame, maxDepth: Int): DataFrame =
    GraphBuilder.withAKeyed(undirectedEdges0) { keyed =>
    // null ids dropped AFTER the memoized keying (the memo is keyed by
    // the caller's frame instance) — else a round settles a null v
    val edges = nonNullIds(keyed)
    // pre-partition the adjacency on the ONE join key every sweep
    // uses and materialize it once: k is fixed, so the per-seed state
    // is scale-free, and the rounds' cost at 8×/64× graphs was pure
    // edge-side re-exchange (measured 10.3× wall for 8× edges before
    // this; the backward sweep reads neighbors through the same
    // a-keyed frame — N(w) via a = w — which symmetry permits).
    // Same convention as pageRank/connectedComponents/kCore.
    // forward: settled (s, v, sigma, d); sigma = #shortest s→v paths
    var settled = seeds
      .select(col("s"), col("s").as("v"), lit(1.0).as("sigma"),
        lit(0).as("d"))
      .materialize(true)
    var frontier = settled
    var t = 1
    while (t <= maxDepth && frontier.limit(1).count() > 0) {
      val cand = frontier.join(edges, frontier("v") === edges("a"))
        .select(col("s"), edges("b").as("v"), col("sigma"))
        .groupBy("s", "v").agg(sum("sigma").as("sigma"))
      frontier = cand
        .join(settled.select(col("s").as("ss"), col("v").as("sv")),
          col("s") === col("ss") && col("v") === col("sv"), "left_anti")
        .withColumn("d", lit(t))
        .materialize(true)
      settled = settled.unionByName(frontier)
      t += 1
    }
    settled = settled.materialize(true)
    val maxd = settled.agg(max("d")).head().getInt(0)
    // backward: delta per depth, deepest first; a node's dependency
    // δ(v) = Σ_{w ∈ succ(v)} σv/σw · (1 + δw) arrives as one
    // reversed-edge join + agg per level
    def level(d: Int) = settled.filter(col("d") === d)
    var acc: DataFrame = null // (s, v, delta) union over depths ≥ 1
    var deltaAt: DataFrame = level(maxd)
      .select(col("s"), col("v"), lit(0.0).as("delta"))
    for (d <- maxd to 1 by -1) {
      val wRows = level(d)
        .join(deltaAt.select(col("s").as("ds"), col("v").as("dv"),
          col("delta")),
          col("s") === col("ds") && col("v") === col("dv"), "left_outer")
        .select(col("s"), col("v").as("w"), col("sigma").as("sw"),
          coalesce(col("delta"), lit(0.0)).as("dw"))
      acc = if (acc == null) wRows.select(col("s"), col("w").as("v"),
        col("dw").as("delta"))
      else acc.unionByName(wRows.select(col("s"), col("w").as("v"),
        col("dw").as("delta")))
      // predecessors: settled depth d−1 neighbors of w — read through
      // the a-keyed frame (symmetric adjacency: N(w) = {b : (w,b)})
      // so this join reuses the forward sweep's edge partitioning
      deltaAt = wRows
        .join(edges, edges("a") === wRows("w"))
        .select(col("s"), edges("b").as("v"), col("sw"), col("dw"))
        .join(level(d - 1).select(col("s").as("ps"), col("v").as("pv"),
          col("sigma").as("sv")),
          col("s") === col("ps") && col("v") === col("pv"))
        .groupBy(col("s"), col("v"))
        .agg(sum(col("sv") / col("sw") * (lit(1.0) + col("dw")))
          .as("delta"))
        .materialize(true)
    }
    // deltaAt now holds the sources' own rows (d=0) — excluded by
    // construction of `acc` (only depths ≥ 1 entered it)
    acc
  }

  /** Modularity of a community assignment (Newman & Girvan 2004):
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] — the standard "was this
    * clustering better than chance" score over the partition
    * [[labelPropagation]] (or any other assigner) produced. On the
    * both-directions edge representation every quantity is a row
    * count: 2m = total rows, 2e_c = within-community rows, d_c =
    * rows grouped by the source's community — so the whole score is
    * ONE labels join onto the edge list (broadcast while |V|-sized
    * frames fit, shuffle past that) and two community-sized aggs.
    * Emits per-community size/internal-edge/degree rows plus the
    * community's additive contribution; the global Q is their sum,
    * pinned exactly on a hand-computed graph in the spec. */
  def modularity(undirectedEdges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("na"), col("community").as("ca"))
    val lb = labels.select(col("node").as("nb"), col("community").as("cb"))
    val tagged = undirectedEdges
      .join(la, col("a") === col("na"))
      .join(lb, col("b") === col("nb"))
      .select(col("a"), col("ca"), col("cb"))
    // single-row broadcast: 2m (both-directions row count)
    val m2 = tagged.agg(count(lit(1)).as("m2"))
    tagged.groupBy(col("ca").as("community"))
      .agg(count_distinct(col("a")).as("n_nodes"),
        count(lit(1)).as("degree_sum"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L))
          .as("internal_rows"))
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"),
        (col("internal_rows") / lit(2)).cast("long").as("internal_edges"),
        col("degree_sum"),
        round(col("internal_rows") / col("m2").cast("double")
          - pow(col("degree_sum") / col("m2").cast("double"), 2.0), 6)
          .as("contribution"))
  }

  /** DataFrame label propagation: each round every node adopts its
    * neighbors' most frequent label, ties broken toward the
    * SMALLEST label — fully deterministic, unlike classic
    * (order-dependent) LPA. Final community names are canonicalized
    * to the smallest member key.
    *
    * GraphX's LabelPropagation, which this replaced on the query
    * path, merges a per-message Map[label, count] per superstep
    * (measured 18.5 s at sf0.01 where this one runs ~2 s); here
    * each round is Tungsten-codegen'd aggregation — the
    * label frame stays |V| rows (AQE broadcasts it into the edge
    * join while it fits; at cluster scale the join shuffles on the
    * edge key exactly once per round), and the argmax folds into
    * min_by over (count desc, label asc).
    *
    * Dual regime, like [[kCore]]: under `graft.graph.broadcastEdges`
    * the same synchronous rounds run on the driver over the frame's
    * held adjacency ([[onAdjacency]]) — exact, the same map as
    * the rounds. Contract notes: labels compare in Spark's string
    * order (UTF-8 bytes); a node takes labels from its `(a, b)` rows,
    * so on an asymmetric frame a node with no labeled `b` has no row
    * in both regimes; rows with a null id are dropped in both
    * regimes, and only STRING adjacencies take the kernel. */
  def labelPropagation(undirectedEdges: DataFrame,
      steps: Int = 5): DataFrame =
    if (kernelEligible(undirectedEdges))
      onAdjacency(undirectedEdges, "community")(g =>
        labelPropagationKernel(g, steps))
    else labelPropagationRounds(undirectedEdges, steps)

  private def labelPropagationRounds(undirectedEdges: DataFrame,
      steps: Int): DataFrame =
    // the shared a-keyed adjacency (memoized for stable frames,
    // scoped scratch for one-shot ones); rounds reference the
    // checkpointed frame, so the cluster-scale SMJ path ships its
    // b-exchange once via ReuseExchange, as before
    GraphBuilder.withAKeyed(undirectedEdges) { keyed =>
    val spark = undirectedEdges.sparkSession
    val edges = nonNullIds(keyed)
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).materialize(true)
    // broadcast regime, same |V|-ceiling convention as ballSizes:
    // the round state is |V| label rows, and a STATIC broadcast hint
    // turns every round join into a map-side BHJ over the edge frame
    // — because AQE only converts the join AFTER the planner already
    // exchanged the edge side for the SMJ it planned against the
    // stats-less aggregate. Honest r12 re-measure (tools/
    // lpa_ab_r12.txt, warm ABBA over a pre-built adjacency): the
    // steady-state win is 1.11× at sf0.1 growing to 1.44× at 8×,
    // and the hint removes the un-hinted plan's 4-5× worst legs
    // (its first visit ran 77.8 s vs 14.6 hinted at 8×). The "2.1×"
    // recorded here in r10 was that volatility band's upper edge,
    // not the steady state. Past the
    // ceiling the hint comes off and the shuffle plan is the right
    // shape (forcing a broadcast there is the OOM class the
    // un-hinted census fix in EmbeddingDedupIndex exists to avoid).
    // type-agnostic (a broadcast HINT, nothing is collected), so no
    // string-key eligibility check — the state-size ceiling, AND a
    // driver-heap bound: each round's BHJ builds its own broadcast
    // of the evolving label state on the DRIVER (up to `steps` live
    // at once in the nested plan), so near the row ceiling a
    // default-sized driver could OOM where the un-hinted SMJ plan
    // completed (r10 ADVICE). ~256 B/row hashed (two string cells +
    // HashedRelation overhead); all rounds together must fit in a
    // quarter of the driver heap or the hint comes off and the
    // shuffle plan — correct at any scale — runs instead.
    // max(1, steps): steps=0 legitimately returns the initial labels
    // and must not divide by zero sizing a cap no round will use
    val heapRowCap =
      Runtime.getRuntime.maxMemory / 4 / (256L * math.max(1, steps))
    val bcast = labels.count() <= math.min(
      confLong(spark, "graft.lpa.broadcastNodes", lpaBroadcastNodes),
      heapRowCap)
    // rounds chain as ONE lazy plan — at a small fixed step count
    // the linear plan depth is harmless, and a single job with no
    // per-round localCheckpoint avoids writing |V|-row frames into
    // a block manager already pressured by other cached state
    // (measured: per-round checkpoints ran 6× slower mid-bench than
    // in isolation). Unbounded-iteration algorithms (CC, k-core)
    // keep per-round truncation; 5 fixed rounds don't need it.
    // MEASURED NEGATIVE (r12, tools/lpa_mode_r12.txt): collapsing
    // this two-level pair into one shuffle via
    // mode(label, deterministic=true) — row-identical semantics,
    // pinned — is 2-6% SLOWER at steady state at sf0.1 and 8×: the
    // saved exchange is real but mode's imperative
    // ObjectHashAggregate gives up codegen that both of these hash
    // aggs keep. Revisit only where shuffle bytes, not agg CPU, are
    // the measured wall.
    // Broadcast regime (r12, §2.4 remove-shuffles): the round body is
    // BHJ-on-b → groupBy(a,label) → groupBy(a). The checkpointed
    // adjacency scans as UnknownPartitioning, so BOTH aggs paid an
    // exchange — 2 × steps exchanges of near-|E| rows per chain. One
    // in-plan repartition(a) over the scan makes the BHJ output
    // HashPartitioning(a), which satisfies the clustered distribution
    // of groupBy(a,label) AND groupBy(a): every round's aggs fuse
    // into the join's stage, and the Exchange(a) subtree is
    // identical across rounds so ReuseExchange ships it once.
    // Executed-plan pin: plans/r12/g_communities_{before,after}.txt —
    // per-round shuffle exchanges 2 → 0; runtime (hinted ABBA legs,
    // OPTIMIZATION_r12.md #2, tools/lpa_ab_r12.txt): stages 25 → 17, shuffle write 38.5 → 30.5 MB, best wall
    // 4.48 → 3.71 s at sf0.1. The SMJ regime keeps
    // the plain frame: its round join already reuses the b-exchange,
    // and forcing a-partitioning there would re-exchange the big side
    // per round for the join.
    // numPartitions pinned (REPARTITION_BY_NUM), mirroring ballSizes:
    // a bare repartition(col) is REPARTITION_BY_COL, which AQE
    // coalesces by BYTES — the thin (a,b) exchange packs into 1-2
    // partitions and every fused round (join + both aggs) runs that
    // narrow (r12 verdict: the committed after-plan showed
    // "AQEShuffleRead coalesced" over the reused round exchange).
    // The pin follows spark.sql.shuffle.partitions, the scale knob.
    val nShuf = spark.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val roundEdges =
      if (bcast) edges.repartition(nShuf, col("a")) else edges
    for (_ <- 1 to steps) {
      val st = if (bcast) broadcast(labels) else labels
      labels = roundEdges.join(st, roundEdges("b") === st("node"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(min_by(col("label"), struct((-col("c")).as("nc"),
          col("label").as("l"))).as("label"))
        .withColumnRenamed("a", "node")
    }
    // materialize the final |V|-row label frame ONCE before the
    // canonicalization join: `labels` feeds BOTH join branches, and
    // if AQE misses the exchange-reuse the whole 5-round chain would
    // execute twice. A tiny eager localCheckpoint guarantees single
    // execution and cuts the round lineage.
    val mat = labels.materialize()
    val canon = mat.groupBy("label").agg(min("node").as("community"))
    mat.join(canon, "label").select("node", "community")
  }

  /** The rounds' update, as index arrays: each round every node takes
    * the label most frequent among its neighbors' previous labels,
    * ties toward the smallest; then each community is named by its
    * smallest member. A node starts labeled iff it has a row (an `a`
    * id) and stays labeled iff a neighbor was, as in the rounds'
    * inner joins; -1 is no label. */
  private def labelPropagationKernel(g: Csr,
      steps: Int): Seq[(String, String)] = {
    var label = Array.tabulate(g.n)(v => if (g.deg(v) > 0) v else -1)
    val cnt = new Array[Int](g.n) // zero between nodes
    for (_ <- 1 to steps) {
      val prev = label
      label = Array.tabulate(g.n) { v =>
        // the running (max count, then min label) winner is the
        // final one: a label can only take the lead when it reaches
        // the current maximum
        var best = -1
        var bestC = 0
        val nbrs = g.nbrs(v)
        for (e <- nbrs) {
          val l = prev(g.dst(e))
          if (l >= 0) {
            cnt(l) += 1
            if (cnt(l) > bestC || (cnt(l) == bestC && l < best)) {
              best = l; bestC = cnt(l)
            }
          }
        }
        for (e <- nbrs) { val l = prev(g.dst(e)); if (l >= 0) cnt(l) = 0 }
        best
      }
    }
    // nodes in index order: the first member seen names the label
    val canon = Array.fill(g.n)(-1)
    for (v <- 0 until g.n; l = label(v) if l >= 0 && canon(l) < 0) canon(l) = v
    (0 until g.n).filter(label(_) >= 0).map(v => (g.ids(v), g.ids(canon(label(v)))))
  }

  /** Node-count ceiling for statically broadcasting the LPA label
    * state into the round joins: |V| × ~50 B label rows ≤ ~100 MB —
    * the same envelope as the other broadcast ceilings here. */
  val lpaBroadcastNodes = 2000000L

  /** [[labelPropagation]] memoized per (adjacency frame instance,
    * steps) — LPA's partition is a reusable artifact (g_modularity
    * SCORES the assignment g_communities produced; without sharing,
    * every consumer re-ran the 5 aggregation rounds and the cost
    * mis-attributed to the consumer, not the assigner). The rounds'
    * |V|-row result is localCheckpoint'd so consumers read a
    * materialized frame; the kernel's already is a local relation. */
  def labelPropagationCached(undirectedEdges: DataFrame,
      steps: Int = 5): DataFrame =
    lpaCache((undirectedEdges, steps))(
      if (kernelEligible(undirectedEdges)) labelPropagation(undirectedEdges, steps)
      else labelPropagationRounds(undirectedEdges, steps).materialize())

  private val lpaCache = new Memos.Memo[(DataFrame, Int), DataFrame](8, derived = true)

  /** Deterministic "random" walks of `length` steps from every
    * node: step `t` from node `v` moves to
    * argmin_{b ∈ N(v)} md5("v|t|b") — a keyed-hash choice that any
    * SQL engine can replay exactly (md5 and string ordering are
    * portable), yielding node2vec-style walk corpora with zero RNG
    * state. Varying `t` in the key decorrelates successive steps,
    * so revisiting a node mid-walk doesn't force a loop.
    *
    * Scale shape: the per-(node, step) choice table is ONE
    * aggregation over edges×length; each step is then an equi-join
    * of the |V|-row frontier against it — walks never branch, and
    * the walk corpus streams out as (start, step, node) rows.
    * Dead-end nodes (possible on directed inputs) simply end their
    * walk early.
    *
    * Dual regime: the choice table is the ONLY state a walk reads,
    * so while it fits the broadcast ceiling
    * (`graft.walks.broadcastChoices`, |V|·length cells) the `length`
    * frontier joins collapse into one mapPartitions over the starts
    * with the broadcast table — the walks follow the SAME
    * Spark-computed rows either way (a pure pointer chase, no
    * recomputation), so the regimes are row-identical by
    * construction. Past the ceiling the per-step equi-joins are the
    * right cluster shape and run unchanged.
    *
    * The choice table is WIDE (r12): one row per node with `length`
    * min_by columns, instead of exploding edges × length into a
    * (cur, t) grouping — the same md5-argmin cells, computed in one
    * pass over the edges with no row multiplication (r12 clean-leg
    * A/B, OPTIMIZATION_r12.md session 3 #4: agg 1.30 → 0.85 s,
    * collect+broadcast 0.46 → ~0.2 s; cell-for-cell equality
    * asserted in the A/B). The
    * shuffle regime's step-t join reads column n_t of the same
    * frame, so its join table is |V| rows, not |V|·length. */
  def deterministicWalks(undirectedEdges: DataFrame,
      length: Int): DataFrame = {
    // the wide choice table needs ≥1 step column (choiceCols.head
    // below); length<1 used to degrade in the explode form but now
    // crashes obscurely — fail with the contract instead (r12 ADVICE)
    require(length >= 1, s"walk length must be >= 1, got $length")
    val spark = undirectedEdges.sparkSession
    val choiceCols = (1 to length).map(t => min_by(col("b"),
      md5(concat_ws("|", col("a"), lit(t), col("b")))).as(s"n$t"))
    val ch = undirectedEdges
      .groupBy(col("a").as("cur"))
      .agg(choiceCols.head, choiceCols.tail: _*)
      .materialize()
    val start = undirectedEdges.select(col("a").as("start")).distinct()
    // ch is materialized above, so the eligibility count is free;
    // the ceiling stays in CELLS (|V|·length), hence the division
    if (broadcastRegimeEligible(ch.select("cur", "n1"), confLong(spark,
        "graft.walks.broadcastChoices", walksBroadcastChoices)
          / math.max(1, length))) {
      import spark.implicits._
      val table: Map[String, Array[String]] = ch
        .select(col("cur").cast("string"),
          array((1 to length).map(t => col(s"n$t").cast("string")): _*))
        .as[(String, Array[String])].collect().toMap
      val bTable = spark.sparkContext.broadcast(table)
      start.select(col("start").cast("string")).as[String].rdd
        .mapPartitions { it =>
          val m = bTable.value
          it.flatMap { s =>
            val walk = scala.collection.mutable.ArrayBuffer((s, 0, s))
            var cur = s
            var t = 1
            while (t <= length && cur != null) {
              m.get(cur) match {
                case Some(nx) => walk += ((s, t, nx(t - 1))); cur = nx(t - 1); t += 1
                case None => cur = null
              }
            }
            walk
          }
          // lazy checkpoint like the sibling broadcast kernels: a
          // multi-action consumer must not re-run the pointer chase
          // (and re-read the broadcast) per action (r10 ADVICE)
        }.toDF("start", "step", "node").materialize(false)
    } else {
      var cur = start.select(col("start"), lit(0).as("step"),
        col("start").as("node"))
      val all = scala.collection.mutable.ListBuffer(cur)
      for (t <- 1 to length) {
        cur = cur.join(ch, cur("node") === ch("cur"))
          .select(col("start"), lit(t).as("step"), col(s"n$t").as("node"))
        all += cur
      }
      all.reduce(_ unionByName _)
    }
  }

  /** Choice-table row ceiling (|V|·length) for the broadcast walk
    * regime — same ~100 MB hashed envelope as the other broadcast
    * ceilings in this file. */
  val walksBroadcastChoices = 1000000L

  /** [[deterministicWalks]] memoized per (adjacency instance,
    * length) — the walk corpus is a reusable artifact like the LPA
    * partition, and the uncached broadcast regime re-collects and
    * re-broadcasts the ~|V|·length choice table on every call (r10
    * ADVICE). The raw function stays uncached so the regime-equality
    * spec's conf flip really exercises both code paths; the query
    * path routes through here. Cached entries are lazily
    * checkpointed by the regimes themselves. */
  def deterministicWalksCached(undirectedEdges: DataFrame,
      length: Int): DataFrame =
    walksCache((undirectedEdges, length))(
      deterministicWalks(undirectedEdges, length))

  private val walksCache = new Memos.Memo[(DataFrame, Int), DataFrame](8, derived = true)

  /** Structural similarity between destination-side nodes of a
    * bipartite edge list: neighbor-set Jaccard — for suppliers x, y,
    * J = |N(x)∩N(y)| / |N(x)∪N(y)| over their customer sets ("who
    * is bought by the same customers"), the classic co-occurrence
    * similarity behind item-item recommendations. Top `topK` pairs
    * by (rounded J desc, ids).
    *
    * Scale shape: the intersection comes from the co-neighbor wedge
    * join keyed on the SHARED neighbor (fan-out bounded by neighbor
    * degree, the same Σdeg² envelope as the triangle wedge — skewed
    * hub neighbors would salt the same way), union sizes derive from
    * two degree joins that AQE broadcasts, and the top-k is a
    * TakeOrdered, never a global sort. Never materializes all-pairs:
    * only pairs with ≥1 shared neighbor exist.
    *
    * Input contract: one row per (src, dst) pair — GraphBuilder.edges
    * guarantees this (it is a group-by output). Multi-edges would
    * inflate both the intersection and the degrees. */
  def nodeSimilarity(edges: DataFrame, topK: Int): DataFrame = {
    val e = edges.select(col("src_key").as("c"), col("dst_key").as("s"))
    val deg = e.groupBy("s").agg(count(lit(1)).as("d"))
    val inter = e.as("x").join(e.as("y"),
        col("x.c") === col("y.c") && col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("a"), col("y.s").as("b"))
      .agg(count(lit(1)).as("i"))
    inter.join(deg.select(col("s").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("s").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("da") + col("db") - col("i")), 4)
          .as("j"))
      .orderBy(col("j").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Adamic-Adar link prediction from a seed set: for each seed `a`
    * and each non-adjacent candidate `b` reachable in two hops,
    * score = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) — common neighbors,
    * discounted by how promiscuous each shared neighbor is. Top
    * `perSeed` candidates per seed by (rounded score desc, id asc).
    *
    * Scale shape: the wedge join fans out ONLY from the seeds
    * (|seeds|·d² rows, never the full Σdeg² wedge volume of the
    * graph), degree attaches via a join on the wedge midpoint that
    * AQE broadcasts when the degree table is small, and candidate
    * adjacency is removed by a left-anti join on the same (a, b)
    * key the score aggregation already shuffled on. Every shared
    * neighbor w has deg(w) ≥ 2 by construction, so ln(deg) > 0.
    */
  def adamicAdar(undirectedEdges: DataFrame, seeds: Seq[String],
      perSeed: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deg = undirectedEdges.groupBy(col("a").as("w"))
      .agg(count(lit(1)).as("d"))
    // seedN is bounded by |seeds|·maxdeg — broadcast it explicitly:
    // the planner estimates it from the full adjacency checkpoint
    // (an isin filter barely moves the estimate), so the wedge join
    // was exchanging + sorting the FULL edge list by w to meet a
    // ~hundred-row side (r13, guide §3.1)
    val seedN = undirectedEdges.filter(col("a").isin(seeds: _*))
      .select(col("a"), col("b").as("w"))
    val wedges = broadcast(seedN)
      .join(undirectedEdges.select(col("a").as("w"),
        col("b").as("cand")), "w")
      .filter(col("cand") =!= col("a"))
    // the adjacency side of the anti join is pre-filtered to the
    // seeds: every scored row has a ∈ seeds by construction, so only
    // seed-incident edges can match — the filtered side is bounded by
    // |seeds|·maxdeg (the same envelope as seedN) and broadcasts,
    // where the unfiltered form exchanged + sorted the FULL edge list
    // to anti-join a seeds-only candidate set (r13, guide §3.1)
    val scored = wedges.join(deg, "w")
      .groupBy(col("a"), col("cand").as("b"))
      .agg(sum(lit(1.0) / log(col("d"))).as("score"))
      .join(broadcast(undirectedEdges.filter(col("a").isin(seeds: _*))),
        Seq("a", "b"), "left_anti")
    // rank on the ROUNDED score: the raw double sum differs across
    // engines in the last ulp, and a tie at the cut line must break
    // on `b` identically everywhere
    val w = Window.partitionBy("a")
      .orderBy(round(col("score"), 4).desc, col("b").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perSeed)
      .select(col("a"), col("b"), round(col("score"), 4).as("aa_score"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * the endpoint degrees over the edge list. Positive = hubs attach
    * to hubs, negative = hubs attach to leaves (the demo
    * customer–supplier graph is strongly disassortative).
    *
    * Over the symmetric directed edge list (both directions present),
    * so the coefficient is the standard undirected one. All five
    * sufficient statistics are INTEGER sums (degrees are ints;
    * Σxy ≤ m·d_max² stays far below 2^63), so they are exact in any
    * accumulation order and partitioning — the one final double
    * formula then runs on identical IEEE operands in any engine,
    * which is what makes a float correlation oracle-checkable at all.
    * (Σ deg² per edge stays below 2^63 up to ~10^9 edges with
    * ~10^7-degree hubs; past that, cast x/y to decimal before the
    * product sums.)
    * Plan: one degree agg, two degree joins (AQE broadcasts the |V|
    * frame), one scalar agg. Output: one row (m_edges, assortativity).
    */
  def assortativity(undirectedEdges: DataFrame): DataFrame = {
    val deg = undirectedEdges.groupBy(col("a").as("n"))
      .agg(count(lit(1)).as("deg"))
    val xy = undirectedEdges
      .join(deg.select(col("n").as("na"), col("deg").as("x")),
        col("a") === col("na"))
      .join(deg.select(col("n").as("nb"), col("deg").as("y")),
        col("b") === col("nb"))
    val s = xy.agg(
      count(lit(1)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val m = col("m").cast("double")
    def d(c: String) = col(c).cast("double")
    s.select(col("m").as("m_edges"),
      round((m * d("sxy") - d("sx") * d("sy")) /
        (sqrt(m * d("sxx") - d("sx") * d("sx")) *
          sqrt(m * d("syy") - d("sy") * d("sy"))), 6)
        .as("assortativity"))
  }

  /** Butterfly (bipartite 4-cycle) count — THE motif of bipartite
    * graphs (Sanei-Mehri et al. 2018; triangles cannot exist), the
    * basis of bipartite clustering coefficients and community
    * detection on user-item graphs like this customer→supplier one.
    * A butterfly is two left nodes sharing two right nodes; counting
    * from either side gives the same total, so the count is
    * side-independent: B = Σ_{pairs p with c_p common neighbors}
    * C(c_p, 2), where pairs come from the wedge join keyed on the
    * shared neighbor. Also reports per-side wedge totals Σ C(d, 2)
    * — the denominator of the bipartite clustering coefficient.
    *
    * Scale shape: the pair enumeration is the SAME co-neighbor wedge
    * join as [[nodeSimilarity]] (volume Σ_wedge-center deg², skewed
    * hubs salt the same way); at 100 TB one picks the wedge side
    * with the smaller Σ deg² — both wedge sums come out of one
    * degree agg per side, so the choice costs two |V|-row aggs. The
    * count itself is integer end to end, so the oracle is exact. */
  def butterflies(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src_key").as("c"), col("dst_key").as("s"))
    // wedges centered on customers connect supplier pairs; per
    // supplier pair the common-neighbor count c gives C(c,2)
    // butterflies. Σ over pairs is one scalar agg on the wedge join.
    val pairs = e.as("x").join(e.as("y"),
        col("x.c") === col("y.c") && col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("a"), col("y.s").as("b"))
      .agg(count(lit(1)).as("cn"))
    // integer DIV keeps the count exact (Column `/` is IEEE double);
    // cn·(cn−1) is even so the per-row halving loses nothing
    val b = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(expr("cn * (cn - 1) DIV 2")).as("n_butterflies"))
    val wc = e.groupBy("c").agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) DIV 2")).as("n_wedges_c"))
    val ws = e.groupBy("s").agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) DIV 2")).as("n_wedges_s"))
    b.crossJoin(wc).crossJoin(ws)
      .select(col("n_pairs").cast("long").as("n_pairs"),
        col("n_butterflies").cast("long").as("n_butterflies"),
        col("n_wedges_c").cast("long").as("n_wedges_c"),
        col("n_wedges_s").cast("long").as("n_wedges_s"))
  }
}
