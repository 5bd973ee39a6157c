package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Algorithms, GraphBuilder, GraphXBridge}

class GraphXSpec extends AnyFunSuite with SparkFixture {

  test("GraphX connected components agree with the DataFrame path") {
    val edges = GraphBuilder.undirected(
      GraphBuilder.edges(spark, sfDir)).localCheckpoint()
    val df = Algorithms.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gx = GraphXBridge.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(df == gx)
  }

  test("GraphX triangle count agrees with the DataFrame path on a known graph") {
    import spark.implicits._
    // two triangles sharing edge (b, c) + a pendant edge
    val e = Seq(("a","b"),("b","c"),("c","a"),("b","d"),("c","d"),("d","e"))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .toDF("a", "b")
    val df = Algorithms.triangleCount(e).head().getLong(0)
    val gx = GraphXBridge.triangleCount(e).head().getLong(0)
    assert(df == 2L && gx == 2L)
  }

  test("GraphX bfs levels agree with the DataFrame traversal") {
    val edges = GraphBuilder.undirected(
      GraphBuilder.edges(spark, sfDir)).localCheckpoint()
    val df = graft.graph.Traversal.bfsLevels(edges, Seq("c:1"), 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val gx = GraphXBridge.bfsLevels(edges, "c:1")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // GraphX covers all reachable nodes; the frontier BFS stopped at
    // maxDepth 10 — on this graph both reach everything
    assert(df == gx)
    // the depth-BOUNDED Pregel form must equal the bounded frontier
    // loop at a bound below the eccentricity (a real truncation)
    val df2 = graft.graph.Traversal.bfsLevels(edges, Seq("c:1"), 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val gx2 = GraphXBridge.bfsLevelsBounded(edges, "c:1", 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(df2 == gx2)
    assert(df2.size < df.size, "bound 2 must truncate on this graph")
  }

  test("GraphX weighted sssp agrees with the DataFrame relaxation") {
    import spark.implicits._
    val edges = GraphBuilder.undirected(
      GraphBuilder.edges(spark, sfDir)).localCheckpoint()
    val w = edges.withColumn("w", lit(1.0))
    val df = graft.graph.Traversal.shortestPathsWeighted(w, "c:1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx = GraphXBridge.shortestPathsWeighted(w, "c:1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df == gx)
  }

  test("personalized pagerank concentrates rank near the seed") {
    import spark.implicits._
    // two hubs in separate neighborhoods joined by one bridge: a walk
    // restarting at hub1 must rank hub1's neighbors above hub2's
    val edges = GraphBuilder.undirected(Seq(
      ("hub1", "a1"), ("hub1", "a2"), ("hub1", "a3"),
      ("hub2", "b1"), ("hub2", "b2"), ("hub2", "b3"),
      ("a1", "hub2"))
      .toDF("src_key", "dst_key"))
    val pr = GraphXBridge.personalizedPageRank(edges, "hub1", iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("hub1") == pr.values.max)
    assert(pr("a2") > pr("b2"), s"seed-side neighbor must outrank: $pr")
    assert(pr.values.forall(_ >= 0.0))
    assert(pr.size == 8)
  }

  test("label propagation yields a valid full partition (both backends)") {
    val edges = GraphBuilder.undirected(
      GraphBuilder.edges(spark, sfDir)).localCheckpoint()
    val nodes = edges.select(col("a").as("node")).distinct()
    for (lp <- Seq(GraphXBridge.labelPropagation(edges).cache(),
        Algorithms.labelPropagation(edges).cache())) {
      // exactly one community per node, no node lost or invented
      assert(lp.count() == nodes.count())
      assert(lp.join(nodes, "node").count() == nodes.count())
      // community names are member keys of the graph
      assert(lp.join(nodes.withColumnRenamed("node", "community"), "community")
        .count() == lp.count())
    }
  }

  test("per-node triangle counts on a known graph") {
    import spark.implicits._
    // triangle a-b-c, plus b-c-d making a second triangle on edge b-c
    val edges = GraphBuilder.undirected(Seq(
      ("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"))
      .toDF("src_key", "dst_key"))
    val got = GraphXBridge.trianglesPerNode(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L, "e" -> 0L))
    // Σ per-node = 3 × global
    val global = GraphXBridge.triangleCount(edges).head().getLong(0)
    assert(got.values.sum == 3 * global)
    // the DataFrame wedge-join form (the query path for one-off
    // overlaid graphs) agrees with the Pregel kernel; it emits only
    // nodes in ≥1 triangle, so compare on the nonzero support
    val df = graft.graph.Algorithms.trianglesPerNode(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == got.filter(_._2 > 0L))
  }

  test("dataframe LPA separates disjoint cliques and is deterministic") {
    import spark.implicits._
    val edges = GraphBuilder.undirected(Seq(
      ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"))
      .toDF("src_key", "dst_key"))
    // the DataFrame rounds; the single-task kernel is pinned equal to
    // them in GraphSpec
    def run() = inRounds(Algorithms.labelPropagation(edges, 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    val lp = run()
    assert(lp.filter(_._1.startsWith("a")).values.toSet == Set("a1"))
    assert(lp.filter(_._1.startsWith("b")).values.toSet == Set("b1"))
    assert(run() == lp) // min-label tie-break → fully deterministic
  }

  test("GraphX pagerank ranks the same top node as the DataFrame path") {
    import spark.implicits._
    val edges = GraphBuilder.undirected(Seq(
      ("hub", "x1"), ("hub", "x2"), ("hub", "x3"), ("x1", "x2"))
      .toDF("src_key", "dst_key"))
    def top(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("rank").desc).head().getString(0)
    assert(top(Algorithms.pageRank(edges, 20)) == "hub")
    assert(top(GraphXBridge.pageRank(edges, 20)) == "hub")
  }
}
