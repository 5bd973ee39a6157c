package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Materialize._

/** Frontier-based traversals over an undirected adjacency DataFrame
  * `(a, b)` — the Spark re-expression of the reference's N-depth
  * expansion (`models/egraph_fquery_model.erl:100-110`) and DFS
  * path search (`src/egraph_dfs_algo.erl:36-99`).
  *
  * Scale notes (100 TB contract, SURVEY.md §5): each level is one
  * `frontier ⋈ edges` shuffle; the frontier is broadcast while it
  * stays under [[broadcastLimit]] rows, and every level is
  * `localCheckpoint`ed so lineage (and thus re-execution cost on
  * failure) stays O(1) in depth, not O(depth).
  */
object Traversal {

  /** Frontiers below this row count are broadcast into the edge join. */
  val broadcastLimit = 4000000L

  /** All nodes within `maxDepth` hops of the seeds, with their
    * minimum depth (seeds at depth 0). */
  def bfsLevels(edges0: DataFrame, seeds: Seq[String], maxDepth: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // the shared a-keyed adjacency: every level joins on `a`, and
    // the per-call `edges0.materialize()` this replaces re-copied an
    // ALREADY-checkpointed memoized frame on every invocation
    GraphBuilder.withAKeyed(edges0) { edges =>
    var visited = seeds.toDF("node").withColumn("depth", lit(0)).materialize()
    var frontier = visited.select("node")
    var frontierSize = seeds.size.toLong
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
    * not necessarily shortest" — egraph_dfs_algo.erl:63-66). The
    * distributed form runs level-synchronous parent discovery
    * (deterministic min-parent tie-break), then walks parent
    * pointers back — path reconstruction is inherently sequential
    * and touches only path-length many tiny lookups.
    *
    * Returns (step, node) rows, step 0 = source.
    */
  def pathBetween(edges0: DataFrame, source: String, destination: String,
      maxDepth: Int = 20): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    if (source == destination)
      return Seq((0, source)).toDF("step", "node")
    GraphBuilder.withAKeyed(edges0) { edges =>
    var frontier = Seq(source).toDF("node").materialize()
    var visited = frontier
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
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
    if (!found)
      spark.emptyDataFrame.selectExpr("0 as step", "'' as node").limit(0)
    else {
      // walk back: levels(i) maps child -> parent at depth i+1
      var path = List(destination)
      var current = destination
      var level = levels.size - 1
      while (level >= 0) {
        val p = levels(level).filter(col("child") === current)
          .select("parent").collect()
        if (p.nonEmpty) { current = p.head.getString(0); path = current :: path }
        level -= 1
      }
      path.zipWithIndex.map { case (n, i) => (i, n) }.toDF("step", "node")
    }
    }
  }

  /** Weighted single-source shortest distances by iterative edge
    * relaxation (Bellman-Ford rounds; converges in ≤ diameter
    * rounds, each one shuffle). Edges: (a, b, w). Throws if
    * distances still improve after `maxIter` rounds, like
    * [[Algorithms.connectedComponents]]: returning them would hand
    * back too-long distances and drop the nodes not reached yet. */
  def shortestPathsWeighted(edges0: DataFrame, source: String,
      maxIter: Int = 20): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    GraphBuilder.withAKeyed(edges0) { edges =>
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
    if (changed) throw new IllegalStateException(
      s"shortest paths did not converge in $maxIter rounds — " +
        "distances were still improving; raise maxIter")
    dist
    }
  }
}
