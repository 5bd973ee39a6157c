package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Materialize._

/** Frontier-based traversals over an undirected adjacency DataFrame
  * `(a, b)` — the Spark re-expression of the reference's N-depth
  * expansion (`models/egraph_fquery_model.erl:100-110`) and DFS
  * path search (`src/egraph_dfs_algo.erl:36-99`).
  *
  * Scale notes (100 TB contract, SURVEY.md §5): two regimes, picked
  * by the one gate of the graph verbs, `graft.graph.broadcastEdges`
  * ([[Algorithms.broadcastEdges]]; string ids only).
  *  - Within the ceiling each verb runs as an in-memory kernel on the
  *    DRIVER over the frame's memoized CSR adjacency (the one the
  *    whole-graph kernels read, built by the gate's first call). A
  *    kernel walks only the nodes it reaches, compares ids as ints in
  *    index order (Spark's string order), and its result is a local
  *    relation: a repeated point traversal runs no Spark job at all.
  *    The gate reads the row count held with the adjacency, so a
  *    repeated call runs no count job either.
  *  - Past the ceiling (and for non-string ids) each level is one
  *    `frontier ⋈ edges` join over the shared a-keyed adjacency; the
  *    frontier is broadcast while it stays under [[broadcastLimit]]
  *    rows, and every level is `localCheckpoint`ed so lineage (and
  *    thus re-execution cost on failure) stays O(1) in depth, not
  *    O(depth).
  * Both regimes return the same rows: null ids, null seeds and null
  * weights are no nodes or edges, and ties break in Spark's string
  * order (UTF-8 bytes).
  */
object Traversal {

  /** Frontiers below this row count are broadcast into the edge join. */
  val broadcastLimit = 4000000L

  /** All nodes within `maxDepth` hops of the seeds, with their
    * minimum depth: one row per node, seeds at depth 0 (a seed absent
    * from the graph too), null seeds dropped. */
  def bfsLevels(edges0: DataFrame, seeds: Seq[String], maxDepth: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val starts = seeds.filter(_ != null).distinct
    if (Algorithms.kernelEligible(edges0)) {
      val g = Algorithms.adjacency(edges0)
      // a seed absent from the graph is a node at depth 0 all the same
      val (absent, known) = starts.partition(g.indexOf(_) < 0)
      val depth = mutable.HashMap(known.map(g.indexOf(_) -> 0): _*)
      var frontier = depth.keys.toSeq
      var d = 0
      while (d < maxDepth && frontier.nonEmpty) {
        d += 1
        val next = mutable.ArrayBuffer.empty[Int]
        // sinks (ids only ever seen as `b`) are reached but expand
        // nothing, as in the rounds
        for (v <- frontier; e <- g.nbrs(v) if !depth.contains(g.dst(e))) {
          depth(g.dst(e)) = d; next += g.dst(e)
        }
        frontier = next.toSeq
      }
      (absent.map(_ -> 0) ++ depth.map { case (v, dv) => g.ids(v) -> dv })
        .toDF("node", "depth")
    } else
    // the shared a-keyed adjacency: every level joins on `a`, and
    // the per-call `edges0.materialize()` this replaces re-copied an
    // ALREADY-checkpointed memoized frame on every invocation
    GraphBuilder.withAKeyed(edges0) { keyed =>
    val edges = Algorithms.nonNullIds(keyed)
    var visited = starts.toDF("node").withColumn("depth", lit(0)).materialize()
    var frontier = visited.select("node")
    var frontierSize = starts.size.toLong
    var visitedSize = frontierSize
    var depth = 0
    while (depth < maxDepth && frontierSize > 0) {
      depth += 1
      val f = if (frontierSize <= broadcastLimit) broadcast(frontier) else frontier
      // broadcast the visited side of the anti join while it is
      // small: a localCheckpoint frame carries no stats, so the
      // planner's default estimate forced a full sort-merge anti
      // (exchange+sort of BOTH sides) at every level (r13, §3.1);
      // the cumulative row count is tracked, so the gate is exact
      val vj = if (visitedSize <= broadcastLimit) broadcast(visited)
        else visited
      val next = edges.join(f, edges("a") === f("node"))
        .select(col("b").as("node")).distinct()
        .join(vj, Seq("node"), "left_anti")
        .withColumn("depth", lit(depth))
        .materialize()
      frontierSize = next.count()
      visitedSize += frontierSize
      // lazy union of the per-level checkpoints — the old
      // `.materialize()` here RE-COPIED every visited row once per
      // level (O(V·depth) checkpoint writes total); the union of
      // ≤maxDepth checkpoint scans is already flat and cheap
      visited = visited.unionByName(next)
      frontier = next.select("node")
    }
    visited
    }
  }

  /** One seed→destination path, reference DFS semantics ("a path,
    * not necessarily shortest" — egraph_dfs_algo.erl:63-66). Both
    * regimes run level-synchronous parent discovery — each node
    * found at level d takes the minimum frontier neighbor, in Spark's
    * string order, as its parent — then walk parent pointers back, so
    * they return the same path. Path reconstruction is inherently
    * sequential and touches only path-length many tiny lookups.
    *
    * Returns (step, node) rows, step 0 = source; no rows when there
    * is no path within `maxDepth` hops or an endpoint is null.
    */
  def pathBetween(edges0: DataFrame, source: String, destination: String,
      maxDepth: Int = 20): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val path =
      if (source == null || destination == null) Nil
      else if (source == destination) List(source)
      else if (Algorithms.kernelEligible(edges0))
        pathKernel(Algorithms.adjacency(edges0), source, destination, maxDepth)
      else pathRounds(edges0, source, destination, maxDepth)
    path.zipWithIndex.map { case (n, i) => (i, n) }.toDF("step", "node")
  }

  private def pathKernel(g: Algorithms.Csr, source: String,
      destination: String, maxDepth: Int): List[String] = {
    val t = g.indexOf(destination)
    // each node found, with its level and parent; -1 is no parent
    val found = mutable.HashMap(g.indexOf(source) -> ((0, -1)))
    var frontier = found.keys.filter(_ >= 0).toSeq
    var depth = 0
    while (t >= 0 && !found.contains(t) && depth < maxDepth && frontier.nonEmpty) {
      depth += 1
      // children of this level only: a node found at an earlier level
      // is skipped, like the rounds' anti join; the smallest parent
      // in index order (Spark's string order) wins
      val next = mutable.ArrayBuffer.empty[Int]
      for (v <- frontier; e <- g.nbrs(v); w = g.dst(e)) found.get(w) match {
        case None => found(w) = (depth, v); next += w
        case Some((d, p)) if d == depth && v < p => found(w) = (depth, v)
        case _ =>
      }
      frontier = next.toSeq
    }
    if (t < 0 || !found.contains(t)) Nil
    else Iterator.iterate(t)(found(_)._2).takeWhile(_ >= 0).map(g.ids).toList.reverse
  }

  private def pathRounds(edges0: DataFrame, source: String,
      destination: String, maxDepth: Int): List[String] = {
    val spark = edges0.sparkSession
    import spark.implicits._
    GraphBuilder.withAKeyed(edges0) { keyed =>
    val edges = Algorithms.nonNullIds(keyed)
    var frontier = Seq(source).toDF("node").materialize()
    var visited = frontier
    val levels = mutable.ArrayBuffer.empty[DataFrame]
    var found = false
    var depth = 0
    var frontierSize = 1L
    var visitedSize = 1L
    while (!found && depth < maxDepth && frontierSize > 0) {
      depth += 1
      val f = if (frontierSize <= broadcastLimit) broadcast(frontier) else frontier
      // broadcast-anti while visited is small (tracked exactly) —
      // same stats-blind SMJ-anti fix as bfsLevels (r13, §3.1)
      val vj = if (visitedSize <= broadcastLimit) broadcast(visited)
        else visited
      val parents = edges.join(f, edges("a") === col("node"))
        .groupBy(col("b").as("child")).agg(min(col("a")).as("parent"))
        .join(vj, col("child") === col("node"), "left_anti")
        .materialize()
      levels += parents
      // lazy projections over the level checkpoint: re-materializing
      // them copied every frontier/visited row a second (and third)
      // time per level
      visited = visited.unionByName(parents.select(col("child").as("node")))
      frontier = parents.select(col("child").as("node"))
      // one scan of the checkpointed level yields both loop signals
      val agg = parents.agg(count(lit(1)),
        count(when(col("child") === destination, 1))).head()
      frontierSize = agg.getLong(0)
      found = agg.getLong(1) > 0
      visitedSize += frontierSize
    }
    if (!found) Nil
    else {
      // walk back: levels(i) maps child -> parent at depth i+1
      var path = List(destination)
      var current = destination
      var level = levels.size - 1
      while (level >= 0) {
        val p = levels(level).filter(col("child") === current)
          .select("parent").collect()
        // `parent` has the edges' id type; the path is rendered as strings
        if (p.nonEmpty) { current = p.head.get(0).toString; path = current :: path }
        level -= 1
      }
      path
    }
    }
  }

  /** Weighted single-source shortest distances by synchronous edge
    * relaxation rounds (Bellman-Ford; converges in ≤ diameter
    * rounds). Edges: (a, b, w); a row with a null id or a null (or
    * NaN) weight is no edge, and a null source reaches nothing. Both
    * regimes run the same rounds — the kernel relaxes only from the
    * nodes that changed in the previous round, which offers exactly
    * the candidates that can still improve — so they return the same
    * double sums and throw on the same inputs: if distances still
    * improve after `maxIter` rounds, like
    * [[Algorithms.connectedComponents]], since returning them would
    * hand back too-long distances and drop the nodes not reached yet. */
  def shortestPathsWeighted(edges0: DataFrame, source: String,
      maxIter: Int = 20): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    require(edges0.columns.contains("w"), "weighted edges need a `w` column")
    def notConverged() = new IllegalStateException(
      s"shortest paths did not converge in $maxIter rounds — " +
        "distances were still improving; raise maxIter")
    if (source == null) Seq.empty[(String, Double)].toDF("node", "dist")
    else if (Algorithms.kernelEligible(edges0)) {
      val g = Algorithms.adjacency(edges0)
      // an absent source is index -1: it reaches nothing
      val dist = mutable.HashMap(g.indexOf(source) -> 0.0)
      var changed = dist.keys.toSeq
      var iter = 0
      while (changed.nonEmpty && iter < maxIter) {
        iter += 1
        // offers use the previous round's distances (synchronous)
        val offers = changed.map(u => u -> dist(u))
        val improved = mutable.HashSet.empty[Int]
        for ((u, du) <- offers if u >= 0; e <- g.nbrs(u) if !g.w(e).isNaN) {
          val (v, c) = (g.dst(e), du + g.w(e))
          // Double.compare orders NaN last, as Spark's min and `<` do
          if (dist.get(v).forall(x => java.lang.Double.compare(c, x) < 0)) {
            dist(v) = c; improved += v
          }
        }
        changed = improved.toSeq
      }
      if (changed.nonEmpty) throw notConverged()
      dist.toSeq.map { case (v, dv) => (if (v < 0) source else g.ids(v)) -> dv }
        .toDF("node", "dist")
    } else GraphBuilder.withAKeyed(edges0) { keyed =>
    val w = col("w").cast("double")
    val edges = Algorithms.nonNullIds(keyed).filter(w.isNotNull && !isnan(w))
      .select(col("a"), col("b"), w.as("w"))
    var dist = Seq((source, 0.0)).toDF("node", "dist").materialize()
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      iter += 1
      // self rows carry the previous distance in `old`; a node
      // improved iff its new min beats min(old) (null = newly
      // reached), so convergence needs no second join job
      val relaxed = edges.join(dist, edges("a") === dist("node"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"),
          lit(null).cast("double").as("old"))
        .unionByName(dist.select(col("node"), col("dist"),
          col("dist").as("old")))
        .groupBy("node").agg(min("dist").as("dist"), min("old").as("old"))
        .materialize()
      changed = relaxed.filter(col("old").isNull || col("dist") < col("old"))
        .limit(1).count() > 0
      dist = relaxed.select("node", "dist")
    }
    if (changed) throw notConverged()
    dist
    }
  }
}
