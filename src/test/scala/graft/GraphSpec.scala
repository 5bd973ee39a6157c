package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Algorithms, GraphBuilder, Traversal}

class GraphSpec extends AnyFunSuite with SparkFixture {

  private def und(pairs: (String, String)*) = {
    import spark.implicits._
    val e = pairs.toDF("src_key", "dst_key")
    GraphBuilder.undirected(e)
  }

  test("node ids are distinct xxhash64 values keyed by key_data") {
    val n = GraphBuilder.nodes(spark, sfDir)
    assert(n.count() == n.select("id").distinct().count())
    val one = n.filter(col("key_data") === "c:1")
      .select(col("id") === xxhash64(col("key_data"))).head().getBoolean(0)
    assert(one)
  }

  test("connected components on a two-component graph") {
    val cc = Algorithms.connectedComponents(und("a" -> "b", "b" -> "c", "d" -> "e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("bfs levels gives min depth") {
    val lv = Traversal.bfsLevels(und("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d"),
        Seq("a"), 5)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(lv == Map("a" -> 0, "b" -> 1, "d" -> 1, "c" -> 2))
  }

  test("pathBetween returns a valid edge path on real data") {
    val edges = GraphBuilder.undirected(GraphBuilder.edges(spark, sfDir))
      .cache()
    val path = Traversal.pathBetween(edges, "c:1", "s:5")
      .orderBy("step").collect().map(_.getString(1))
    assert(path.head == "c:1" && path.last == "s:5")
    val pairs = path.sliding(2).map(p => (p(0), p(1))).toSeq
    val valid = pairs.forall { case (a, b) =>
      edges.filter(col("a") === a && col("b") === b).count() == 1 }
    assert(valid, s"non-edge step in ${path.mkString("->")}")
  }

  test("k-core assigns exact core numbers on a known graph") {
    // 4-clique {a,b,c,d} → core 3; triangle {e,f,g} → core 2 with a
    // pendant h on g → core 1; bridge d-e ties the components without
    // changing any core number
    val cores = Algorithms.kCore(und(
        "a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
        "c" -> "d",
        "e" -> "f", "f" -> "g", "e" -> "g", "g" -> "h",
        "d" -> "e"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(cores == Map(
      "a" -> 3, "b" -> 3, "c" -> 3, "d" -> 3,
      "e" -> 2, "f" -> 2, "g" -> 2, "h" -> 1))
    // a pure ring is everywhere 2-core
    val ring = Algorithms.kCore(und(
        "r1" -> "r2", "r2" -> "r3", "r3" -> "r4", "r4" -> "r1"))
      .collect().map(r => r.getInt(1)).toSet
    assert(ring == Set(2))
  }

  test("k-core regimes agree: single-task peeling == h-index rounds") {
    def g = und(
      "a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
      "c" -> "d",
      "e" -> "f", "f" -> "g", "e" -> "g", "g" -> "h",
      "d" -> "e")
    def run() = Algorithms.kCore(g)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val peel = run()
    val rounds = inRounds(run())
    assert(peel == rounds, s"$peel vs $rounds")
    // directed rows are outside the contract, and there the regimes
    // differ: the peeling sees only ids seen as `a`, and only their rows
    // between such ids ("x" is a sink)
    val directed = asym
    assert(Algorithms.kCore(directed).collect().map(r => r.getString(0) -> r.getInt(1))
      .toMap == Map("a" -> 1, "b" -> 1, "c" -> 0, "q" -> 0, "y" -> 1))
  }

  test("k-core is bounded by degree on real data") {
    val edges = GraphBuilder.undirected(GraphBuilder.edges(spark, sfDir))
      .localCheckpoint()
    val deg = edges.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val bad = Algorithms.kCore(edges).join(deg, "node")
      .filter(col("core") > col("deg") || col("core") < 1)
    assert(bad.count() == 0)
  }

  test("triangle count on known graphs") {
    def n(e: org.apache.spark.sql.DataFrame) =
      Algorithms.triangleCount(e).head().getLong(0)
    assert(n(und("a" -> "b", "b" -> "c", "a" -> "c")) == 1)
    assert(n(und("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d")) == 1)
    assert(n(und("a" -> "b", "b" -> "c")) == 0)
    // canonical one-direction list (no symmetrized rows) counts too
    import spark.implicits._
    val canonical = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("a", "b")
    assert(n(canonical) == 1)
  }

  test("assortativity: -1 on a star, disassortative on the hub-heavy " +
      "demo graph") {
    // K1,n is the textbook maximally disassortative graph: every edge
    // joins the hub (deg n) to a leaf (deg 1) → r = −1 exactly, and
    // the integer sufficient statistics make it EXACTLY −1 here too
    val star = und("hub" -> "x1", "hub" -> "x2", "hub" -> "x3")
    val r = Algorithms.assortativity(star).head()
    assert(r.getLong(0) == 6) // 3 undirected edges, both directions
    assert(r.getDouble(1) == -1.0)
    // real data: bipartite customer–supplier with high-degree
    // suppliers — must come out negative and in range
    val real = Algorithms.assortativity(
      GraphBuilder.undirectedFor(spark, sfDir)).head()
    val rr = real.getDouble(1)
    assert(rr >= -1.0 && rr <= 1.0 && rr < 0.0, s"r=$rr")
  }

  test("butterflies: K2,2 has exactly one, side-independent counts") {
    import spark.implicits._
    // c1,c2 × s1,s2 fully connected = the minimal butterfly; plus a
    // pendant edge that adds wedges on the c side but no 4-cycle
    val e = Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1"), ("c2", "s2"),
      ("c3", "s1")).toDF("src_key", "dst_key")
    val r = Algorithms.butterflies(e).head()
    assert(r.getLong(0) == 1, "one supplier pair with >=2 common")
    assert(r.getLong(1) == 1, "exactly one butterfly")
    // wedge totals: customers c1,c2 have deg 2 -> 1 wedge each;
    // suppliers s1 deg 3 -> 3, s2 deg 2 -> 1
    assert(r.getLong(2) == 2 && r.getLong(3) == 4)
  }

  test("pagerank mass is conserved and hubs rank higher") {
    val star = und("hub" -> "x1", "hub" -> "x2", "hub" -> "x3", "x1" -> "x2")
    val pr = Algorithms.pageRank(star, iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 4.0) < 0.05, s"mass drifted: $pr")
    assert(pr("hub") > pr("x3"))
  }

  test("weighted sssp throws when maxIter runs out, exact with enough rounds") {
    // a 25-node path from one end: 24 edges to relax, so 20 rounds
    // stop while distances are still improving — in both regimes
    val path = und((0 until 24).map(i => s"p$i" -> s"p${i + 1}"): _*)
      .withColumn("w", lit(1.0))
    def run(maxIter: Int) = Traversal.shortestPathsWeighted(path, "p0", maxIter)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (regime <- Seq[(=> Map[String, Double]) => Map[String, Double]](
        x => x, x => inRounds(x))) {
      val e = intercept[IllegalStateException](regime(run(20)))
      assert(e.getMessage.contains("did not converge in 20 rounds"), e.getMessage)
      assert(regime(run(25)) == (0 until 25).map(i => s"p$i" -> i.toDouble).toMap)
    }
  }

  test("weighted sssp matches hand-computed distances") {
    import spark.implicits._
    val e = Seq(("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0), ("c", "d", 1.0))
      .toDF("a", "b", "w")
    val both = e.unionByName(e.select(col("b").as("a"), col("a").as("b"), col("w")))
    val d = Traversal.shortestPathsWeighted(both, "a")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d == Map("a" -> 0.0, "b" -> 1.0, "c" -> 3.0, "d" -> 4.0))
  }

  test("hyperball estimates track exact 3-hop reach within HLL error") {
    val ue = GraphBuilder.undirectedFor(spark, sfDir).localCheckpoint()
    val est = Algorithms.neighborhoodSizes(ue, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact ≤3-hop reach per node (self included)
    val d1 = ue.select(col("a"), col("b"))
    val d2 = d1.as("x").join(d1.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("y.b").as("b"))
    val d3 = d2.as("x").join(d1.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("y.b").as("b"))
    val self = d1.select(col("a"), col("a").as("b"))
    val exact = self.unionByName(d1).unionByName(d2).unionByName(d3)
      .distinct().groupBy("a").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    val worst = exact.map { case (n, ex) =>
      math.abs(est(n) - ex).toDouble / ex }.max
    assert(worst < 0.15, s"worst relative error $worst exceeds HLL bound")
    // deterministic: max-based register merges are order-free
    val again = Algorithms.neighborhoodSizes(ue, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == est)
  }

  test("eccentricity is exact on a path graph (sparse-mode HLL)") {
    // path a—b—c—d: ecc(a) = ecc(d) = 3, ecc(b) = ecc(c) = 2; at 4
    // nodes the HLL sketches are exact (sparse mode), so the
    // ball-growth detection — and therefore ecc — is exact
    val e = und("a" -> "b", "b" -> "c", "c" -> "d")
    val got = Algorithms.eccentricity(e, 4)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 3, "b" -> 2, "c" -> 2, "d" -> 3))
    // maxDepth caps the report: depth 2 clamps the endpoints
    val capped = Algorithms.eccentricity(e, 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(capped == Map("a" -> 2, "b" -> 2, "c" -> 2, "d" -> 2))
  }

  test("neighborhood function and effective diameter, exact on a path") {
    // P4 a—b—c—d: ball sizes per t — t0: 1,1,1,1; t1: 2,3,3,2;
    // t2: 3,4,4,3; t3: all 4 ⇒ N = 4, 10, 14, 16. ANF 0.9-effective
    // diameter: target 14.4 ⇒ 2 + (14.4−14)/(16−14) = 2.2
    val e = und("a" -> "b", "b" -> "c", "c" -> "d")
    val nf = Algorithms.neighborhoodFunction(e, 3)
    val curve = nf.orderBy("t").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(curve == Map(0 -> 4.0, 1 -> 10.0, 2 -> 14.0, 3 -> 16.0), curve)
    val eff = Algorithms.effectiveDiameter(nf).head().getDouble(0)
    assert(eff == 2.2, s"eff diameter $eff")
    // q = 0 degenerates to the first round (prev is null ⇒ t itself)
    assert(Algorithms.effectiveDiameter(nf, 0.1).head().getDouble(0) <= 1.0)
  }

  test("shuffle-regime ball rounds (per-round checkpoint) match the broadcast path") {
    // force the >240k-node round shape — shuffle-partitioned edges,
    // per-round localCheckpoint lineage truncation — onto a
    // spec-sized graph and pin the identical exact P4 curve. HLL
    // register merge is max-per-register, so the materialization
    // boundary must not move a single value.
    val spark = this.spark
    spark.conf.set("graft.ball.broadcastNodes", "0")
    try {
      // fresh frame: the ball memo-cache keys on the DataFrame
      // instance, and a cached broadcast-path curve would shadow
      // the path under test
      val e = und("a" -> "b", "b" -> "c", "c" -> "d")
      val nf = Algorithms.neighborhoodFunction(e, 3)
      val curve = nf.orderBy("t").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(curve == Map(0 -> 4.0, 1 -> 10.0, 2 -> 14.0, 3 -> 16.0), curve)
      val ecc = Algorithms.eccentricity(
          und("a" -> "b", "b" -> "c", "c" -> "d"), 4)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(ecc == Map("a" -> 3, "b" -> 2, "c" -> 2, "d" -> 3))
    } finally spark.conf.unset("graft.ball.broadcastNodes")
  }

  test("betweenness is exact on path and star when every node is a seed") {
    // P4 a—b—c—d: BC(b) = BC(c) = 2, endpoints 0 (k ≥ n ⇒ the
    // sampling estimator degenerates to exact Brandes, scale = 1/2
    // over directed dependency sums)
    val p = Algorithms.betweenness(und("a" -> "b", "b" -> "c", "c" -> "d"),
        k = 16, maxDepth = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(p == Map("a" -> 0.0, "b" -> 2.0, "c" -> 2.0, "d" -> 0.0), p)
    // star: center carries every leaf pair = C(3,2) = 3
    val s = Algorithms.betweenness(
        und("x" -> "a", "x" -> "b", "x" -> "c"), k = 16, maxDepth = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s == Map("x" -> 3.0, "a" -> 0.0, "b" -> 0.0, "c" -> 0.0), s)
  }

  test("betweenness regimes agree: seed-parallel broadcast == shuffle rounds") {
    // two triangles bridged by c—d plus a chord b—e: multiple equal-
    // length paths exercise the σ ratios, truncation at maxDepth=2
    // exercises the bounded-radius contract in both regimes
    def g = und("a" -> "b", "b" -> "c", "a" -> "c",
      "d" -> "e", "e" -> "f", "d" -> "f", "c" -> "d", "b" -> "e")
    for (depth <- Seq(2, 4)) {
      def run() = Algorithms.betweenness(g, k = 16, maxDepth = depth)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val bcast = run()
      val shuffle = inRounds(run())
      assert(bcast == shuffle, s"depth=$depth: $bcast vs $shuffle")
    }
  }

  test("non-string node ids ride the shuffle regimes, types intact") {
    import spark.implicits._
    // the broadcast kernels key on STRING node columns; a long-keyed
    // adjacency must fall to the type-generic shuffle regime at any
    // size and keep its id type end to end
    val und = GraphBuilder.undirected(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src_key", "dst_key"))
    val bc = Algorithms.betweenness(und, k = 16, maxDepth = 4)
    assert(bc.schema("node").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(bc.count() == 4)
    val cores = Algorithms.kCore(und)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cores == Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 1))
    val walks = Algorithms.deterministicWalks(und, 2)
    assert(walks.schema("node").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(walks.filter(col("step") === 2).count() == 4)
    // pageRank, components and LPA keep the rounds too: their node
    // and label columns stay long
    val long = org.apache.spark.sql.types.LongType
    val pr = Algorithms.pageRank(und, 3)
    assert(pr.schema("node").dataType == long)
    assert(pr.count() == 4)
    val cc = Algorithms.connectedComponents(und)
    assert(cc.schema("component").dataType == long)
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val lp = Algorithms.labelPropagation(und, 2)
    assert(lp.schema("community").dataType == long)
    assert(lp.count() == 4)
    // so do the traversals (whose seeds are strings): the same rows
    // and schemas as with the kernels switched off
    def traversals() = (Traversal.bfsLevels(und, Seq("1"), 2),
      Traversal.pathBetween(und, "1", "4"),
      Traversal.shortestPathsWeighted(und.withColumn("w", lit(2)), "1"))
    val (lv, p, sp) = traversals()
    val (lvR, pR, spR) = inRounds(traversals())
    for ((x, y) <- Seq(lv -> lvR, p -> pR, sp -> spR))
      assert(x.schema == y.schema)
    assert(levelRows(lv) == Seq(("1", 0), ("2", 1), ("3", 1), ("4", 2)))
    assert(pathRows(p).map(_._2) == Seq("1", "3", "4"))
    assert(sp.collect().map(r => String.valueOf(r.get(0)) -> r.getDouble(1)).toMap ==
      Map("1" -> 0.0, "2" -> 2.0, "3" -> 2.0, "4" -> 4.0))
  }

  test("modularity matches the hand-computed two-triangle value") {
    import spark.implicits._
    // two triangles bridged by one edge; the natural partition:
    // m = 7, per community e_c = 3, d_c = 7 ⇒
    // Q = 2 × (3/7 − (7/14)²) = 0.357143 (contribution 0.178571 each)
    val e = und("a" -> "b", "b" -> "c", "a" -> "c",
      "d" -> "e", "e" -> "f", "d" -> "f", "c" -> "d")
    val labels = Seq("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d").toDF("node", "community")
    val rows = Algorithms.modularity(e, labels).orderBy("community")
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == 3)          // n_nodes
      assert(r.getLong(2) == 3)          // internal_edges
      assert(r.getLong(3) == 7)          // degree_sum
      assert(r.getDouble(4) == 0.178571) // contribution
    }
    // the degenerate all-one-community partition scores 0 exactly
    val one = Seq("a", "b", "c", "d", "e", "f").map(_ -> "a")
      .toDF("node", "community")
    val q0 = Algorithms.modularity(e, one)
      .agg(round(sum("contribution"), 6)).head().getDouble(0)
    assert(q0 == 0.0)
  }

  test("harmonic centrality is exact on a path graph (sparse-mode HLL)") {
    // path a—b—c—d, depth 3: H(a) = 1 + 1/2 + 1/3 = 1.8333,
    // H(b) = 1 + 1 + 1/2 = 2.5 (symmetric for c, d). At 4 nodes the
    // HLL sketches are in exact sparse mode, so the ball-size deltas
    // — and therefore the centralities — are exact, not estimates.
    val e = und("a" -> "b", "b" -> "c", "c" -> "d")
    val got = Algorithms.harmonicCentrality(e, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 1.8333, "b" -> 2.5, "c" -> 2.5, "d" -> 1.8333))
    // determinism: HLL register merges are max-based, order-free
    val again = Algorithms.harmonicCentrality(e, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == got)
  }

  test("node similarity: neighbor-set jaccard with hand-computed values") {
    import spark.implicits._
    // s1: {c1,c2,c3}  s2: {c2,c3,c4}  s3: {c4}
    // J(s1,s2) = 2/4 = 0.5; J(s2,s3) = 1/3; J(s1,s3) = 0 (no shared
    // customer → pair never materializes)
    val e = Seq(("c1", "s1"), ("c2", "s1"), ("c3", "s1"),
        ("c2", "s2"), ("c3", "s2"), ("c4", "s2"),
        ("c4", "s3"))
      .toDF("src_key", "dst_key")
    val got = Algorithms.nodeSimilarity(e, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(got == Map(("s1", "s2") -> 0.5, ("s2", "s3") -> 0.3333))
  }

  test("withAKeyed: one-shot frames skip the memo and are freed; " +
      "stable frames share one memoized instance") {
    import org.apache.spark.storage.StorageLevel
    val before = GraphBuilder.aKeyedCacheSize
    // one-shot: a fresh frame per call (the dedup keeper-resolution
    // shape) — the scratch copy must be unpersisted when the scope
    // closes and must never enter the memo
    val oneShot = und("a" -> "b", "b" -> "c", "d" -> "e")
    var seen: org.apache.spark.sql.DataFrame = null
    val cc = GraphBuilder.withAKeyed(oneShot) { k =>
      seen = k
      k.count()
      k
    }
    assert(cc eq seen)
    assert(seen.storageLevel == StorageLevel.NONE,
      "scratch a-keyed copy must be unpersisted after the scope")
    assert(GraphBuilder.aKeyedCacheSize == before,
      "one-shot frames must not occupy the memo")
    // the full algorithm path (the rounds, which take withAKeyed's
    // scratch branch): result stays correct and usable AFTER the
    // scratch frame was freed (results are checkpoint-rooted)
    val comp = inRounds(Algorithms.connectedComponents(oneShot)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d"))
    assert(GraphBuilder.aKeyedCacheSize == before)
    // stable: the registered instance memoizes — same a-keyed frame
    // both times
    val stable = graft.util.Memos.markStable(und("a" -> "b", "b" -> "c"))
    var first: org.apache.spark.sql.DataFrame = null
    var second: org.apache.spark.sql.DataFrame = null
    GraphBuilder.withAKeyed(stable) { k => first = k; k.count() }
    GraphBuilder.withAKeyed(stable) { k => second = k }
    assert(first eq second, "stable frames must share one memo entry")
  }

  test("broadcast kernels drop null node ids like the equi-join regimes") {
    import spark.implicits._
    // 4-cycle plus a null-keyed edge, symmetrized by hand: before the
    // fix, the null survived groupBy into the broadcast map and
    // ids.sorted in the peeling kernel threw
    val e = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"),
      (null.asInstanceOf[String], "a"), ("a", null.asInstanceOf[String]))
      .toDF("a", "b")
    def both(verb: => org.apache.spark.sql.DataFrame) = {
      def run() = verb.collect().map(r => r.getString(0) -> r.get(1)).toMap
      val (kernel, rounds) = (run(), inRounds(run()))
      for (m <- Seq(kernel, rounds))
        assert(m.keySet == Set("a", "b", "c", "d"), s"null id kept: $m")
      (kernel, rounds)
    }
    val (cores, coreRounds) = both(Algorithms.kCore(e))
    assert(cores == Map("a" -> 2, "b" -> 2, "c" -> 2, "d" -> 2))
    assert(coreRounds == cores)
    // the null row must not count into a's degree either: on the
    // 2-regular cycle every rank stays 1.0
    val (pr, prRounds) = both(Algorithms.pageRank(e, 5))
    for (m <- Seq(pr, prRounds))
      assert(m.values.forall(v => math.abs(v.asInstanceOf[Double] - 1.0) < 1e-12), m)
    val (cc, ccRounds) = both(Algorithms.connectedComponents(e))
    assert(cc.values.toSet == Set("a") && ccRounds == cc)
    val (lp, lpRounds) = both(Algorithms.labelPropagation(e, 3))
    assert(lpRounds == lp)
    // betweenness: the null node is neither counted into n (the n/k
    // scale) nor drawn as a seed; on the 4-cycle each node carries
    // half of the one pair routed through it either way
    val (bc, bcRounds) = both(Algorithms.betweenness(e))
    assert(bc == Map("a" -> 0.5, "b" -> 0.5, "c" -> 0.5, "d" -> 0.5))
    assert(bcRounds == bc)
  }

  // Several components, LPA count ties, and ids whose orders disagree:
  // "｡" (U+FF61) and "ﾟ" (U+FF9F) sort before "😀" and "😁" (U+1F600,
  // U+1F601) in UTF-8 bytes, Spark's string order, but after them in
  // JVM UTF-16 order, where the emoji are surrogate pairs.
  private def mixed = und(
    "ﾟ" -> "｡", "ﾟ" -> "😀", "😀" -> "😁",
    "a" -> "b", "b" -> "c", "c" -> "d",
    "e" -> "f", "f" -> "g", "e" -> "g",
    "h" -> "i", "h" -> "j", "i" -> "j", "j" -> "k")

  // Directed rows: "x" is only ever a `b` (a sink), "y" and "q" only
  // `a`s, so the four whole-graph verbs see nodes without rows.
  private def asym = {
    import spark.implicits._
    Seq(("a", "b"), ("b", "c"), ("c", "x"), ("y", "a"), ("b", "x"), ("q", "x"))
      .toDF("a", "b")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pagerank regimes agree: single task == rounds to 1e-9") {
    // unseeded, and seeded at a node whose UTF-8 and UTF-16 indexes
    // differ, at the demo graph's catalog seed, and on directed rows
    // (seeded at a source and at a sink)
    val directed = asym
    for ((g, seed) <- Seq(mixed -> None, mixed -> Some("😀"),
        directed -> None, directed -> Some("y"), directed -> Some("x"),
        GraphBuilder.undirectedFor(spark, sfDir) -> None,
        GraphBuilder.undirectedFor(spark, sfDir) -> Some("c:1"))) {
      def run() = ranks(Algorithms.pageRank(g, 10, seed = seed))
      val (kernel, rounds) = (run(), inRounds(run()))
      assert(kernel.keySet == rounds.keySet)
      // only ids seen as `a` get a rank
      if (g eq directed) assert(kernel.keySet == Set("a", "b", "c", "y", "q"))
      val worst = kernel.map { case (k, v) => math.abs(v - rounds(k)) }.max
      assert(worst <= 1e-9, s"$seed: max |kernel - rounds| = $worst")
    }
  }

  test("personalized pagerank concentrates rank near the seed") {
    // two hubs in separate neighborhoods joined by one bridge: a walk
    // restarting at hub1 must rank hub1's neighbors above hub2's
    val edges = und(
      "hub1" -> "a1", "hub1" -> "a2", "hub1" -> "a3",
      "hub2" -> "b1", "hub2" -> "b2", "hub2" -> "b3",
      "a1" -> "hub2")
    for (pr <- Seq(ranks(Algorithms.pageRank(edges, 20, seed = Some("hub1"))),
        inRounds(ranks(Algorithms.pageRank(edges, 20, seed = Some("hub1")))))) {
      assert(pr("hub1") == pr.values.max)
      assert(pr("a2") > pr("b2"), s"seed-side neighbor must outrank: $pr")
      assert(pr.values.forall(_ >= 0.0))
      assert(pr.size == 8)
      // no sinks on a symmetric adjacency: the walk keeps mass 1
      assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass drifted: $pr")
    }
  }

  test("personalized pagerank from a seed absent from the graph is 0 everywhere") {
    val g = und("a" -> "b", "b" -> "c")
    for (pr <- Seq(ranks(Algorithms.pageRank(g, 5, seed = Some("zz"))),
        inRounds(ranks(Algorithms.pageRank(g, 5, seed = Some("zz")))))) {
      assert(pr == Map("a" -> 0.0, "b" -> 0.0, "c" -> 0.0))
    }
  }

  test("label propagation yields a valid full partition") {
    val edges = GraphBuilder.undirected(
      GraphBuilder.edges(spark, sfDir)).localCheckpoint()
    val nodes = edges.select(col("a").as("node")).distinct()
    for (lp <- Seq(Algorithms.labelPropagation(edges).cache(),
        inRounds(Algorithms.labelPropagation(edges).cache()))) {
      // exactly one community per node, no node lost or invented
      assert(lp.count() == nodes.count())
      assert(lp.join(nodes, "node").count() == nodes.count())
      // community names are member keys of the graph
      assert(lp.join(nodes.withColumnRenamed("node", "community"), "community")
        .count() == lp.count())
      // a cached kernel result would serve every later query with the
      // same local rows, through a cache scan job
      lp.unpersist()
    }
  }

  test("dataframe LPA separates disjoint cliques and is deterministic") {
    val edges = und(
      "a1" -> "a2", "a2" -> "a3", "a1" -> "a3",
      "b1" -> "b2", "b2" -> "b3", "b1" -> "b3")
    // the DataFrame rounds; the kernel is pinned equal to
    // them below
    def run() = inRounds(Algorithms.labelPropagation(edges, 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    val lp = run()
    assert(lp.filter(_._1.startsWith("a")).values.toSet == Set("a1"))
    assert(lp.filter(_._1.startsWith("b")).values.toSet == Set("b1"))
    assert(run() == lp) // min-label tie-break → fully deterministic
  }

  test("per-node triangle counts on a known graph") {
    // triangle a-b-c, plus b-c-d making a second triangle on edge b-c;
    // e is in no triangle and so has no row
    val edges = und(
      "a" -> "b", "b" -> "c", "a" -> "c", "b" -> "d", "c" -> "d",
      "d" -> "e")
    val got = Algorithms.trianglesPerNode(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
    // Σ per-node = 3 × global
    val global = Algorithms.triangleCount(edges).head().getLong(0)
    assert(got.values.sum == 3 * global)
  }

  test("components and LPA regimes agree: single task == rounds") {
    def maps(g: org.apache.spark.sql.DataFrame) = {
      val cc = Algorithms.connectedComponents(g)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val lp = Seq(0, 1, 2, 5).map(steps => Algorithms.labelPropagation(g, steps)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      (cc, lp)
    }
    val (cc, lp) = maps(mixed)
    assert(cc("😀") == "｡" && cc("a") == "a" && cc("k") == "h", cc)
    // round 1: "😀" sees "ﾟ" and "😁" once each and takes "ﾟ", the
    // smaller in UTF-8 order, as "｡" does; their community is named
    // by "｡", again the smaller in UTF-8 order
    assert(lp(1)("😀") == "｡" && lp(1)("｡") == "｡", lp(1))
    assert(inRounds(maps(mixed)) == ((cc, lp)))
    val demo = GraphBuilder.undirectedFor(spark, sfDir)
    assert(maps(demo) == inRounds(maps(demo)))
    // directed rows: labels flow from `a` to `b`, so the sink "x" takes
    // the smallest id that reaches it, and a node with no labeled `b`
    // has no LPA row
    val directed = asym
    val (dcc, dlp) = maps(directed)
    assert(dcc == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "a",
      "y" -> "y", "q" -> "q"), dcc)
    assert(inRounds(maps(directed)) == ((dcc, dlp)))
  }

  // ---- traversals: driver kernels == rounds ----

  private def levelRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (String.valueOf(r.get(0)), r.getInt(1))).toSeq.sortBy(_.toString)

  private def pathRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("step").collect().map(r => (r.getInt(0), r.getString(1))).toSeq

  test("bfsLevels keeps one depth-0 row per seed and drops null seeds in both regimes") {
    val g = und("a" -> "b", "b" -> "c")
    def run() = levelRows(
      Traversal.bfsLevels(g, Seq("a", "a", null, "zz", "zz", "b"), 1))
    // "zz" is in no edge: a seed still, at depth 0
    val want = Seq(("a", 0), ("b", 0), ("c", 1), ("zz", 0))
    assert(run() == want)
    assert(inRounds(run()) == want)
  }

  test("bfsLevels regimes agree: driver kernel == rounds") {
    import spark.implicits._
    val nulls = Seq(("a", "b"), ("b", "a"), ("b", null), (null, "c"),
        ("c", "d"), ("d", "c"), ("a", "c"), ("c", "a"))
      .toDF("a", "b")
    // directed rows: "x" and the far end of "y" -> "a" are sinks or
    // sources the symmetric adjacency would hide
    val asym = Seq(("a", "b"), ("b", "c"), ("c", "x"), ("y", "a"), ("b", "x"))
      .toDF("a", "b")
    val demo = GraphBuilder.undirectedFor(spark, sfDir)
    val cases = Seq(
      (mixed, Seq("ﾟ"), Seq(0, 1, 2, 5)),
      (mixed, Seq("😁", "a", "zz"), Seq(1, 3)),
      (nulls, Seq("a", null), Seq(1, 2, 3)),
      (asym, Seq("a"), Seq(1, 2, 5)),
      (asym, Seq("x", "y"), Seq(2)),
      (demo, Seq("c:1"), Seq(2, 4)))
    for ((g, seeds, depths) <- cases; d <- depths) {
      def run() = levelRows(Traversal.bfsLevels(g, seeds, d))
      val (kernel, rounds) = (run(), inRounds(run()))
      assert(kernel == rounds, s"$seeds depth $d: $kernel vs $rounds")
      assert(kernel.map(_._1).distinct.size == kernel.size)
    }
    val sinks = levelRows(Traversal.bfsLevels(asym, Seq("a"), 5))
    assert(sinks == Seq(("a", 0), ("b", 1), ("c", 2), ("x", 2)))
  }

  test("pathBetween regimes agree: the kernel returns the rounds' path") {
    import spark.implicits._
    // "s" reaches "t2" through "ﾟ" or "😀": "ﾟ" is the smaller in UTF-8
    // bytes (Spark's min), "😀" in UTF-16 (JVM String order). "m" has
    // three equal-depth parents, "z" the smallest in UTF-8.
    val g = und("s" -> "ﾟ", "s" -> "😀", "s" -> "z", "ﾟ" -> "t2", "😀" -> "t2",
      "ﾟ" -> "m", "😀" -> "m", "z" -> "m", "m" -> "t", "island" -> "i2")
    val nulls = g.unionByName(Seq(("s", null), (null, "t"), ("m", null))
      .toDF("a", "b"))
    val asym = Seq(("a", "b"), ("b", "c"), ("a", "q"), ("q", "c"), ("c", "sink"))
      .toDF("a", "b")
    val demo = GraphBuilder.undirectedFor(spark, sfDir)
    def run(e: org.apache.spark.sql.DataFrame, src: String, dst: String, depth: Int) =
      pathRows(Traversal.pathBetween(e, src, dst, depth))
    val want = Map(
      (g, "s", "t2", 20) -> Seq("s", "ﾟ", "t2"),
      (g, "s", "t", 20) -> Seq("s", "z", "m", "t"),
      (g, "t", "s", 20) -> Seq("t", "m", "z", "s"),
      (g, "s", "t", 2) -> Nil,
      (g, "s", "ﾟ", 0) -> Nil,
      (g, "s", "s", 0) -> Seq("s"),
      (g, "s", "island", 20) -> Nil,
      (g, "nope", "t", 20) -> Nil,
      (g, "s", "nope", 20) -> Nil,
      (g, "s", null, 20) -> Nil,
      (nulls, "s", "t", 20) -> Seq("s", "z", "m", "t"),
      (asym, "a", "sink", 20) -> Seq("a", "b", "c", "sink"),
      (asym, "sink", "a", 20) -> Nil)
    for (((e, src, dst, depth), path) <- want) {
      val (kernel, rounds) = (run(e, src, dst, depth), inRounds(run(e, src, dst, depth)))
      assert(kernel == path.zipWithIndex.map(_.swap), s"$src -> $dst: $kernel")
      assert(rounds == kernel, s"$src -> $dst: $rounds vs $kernel")
    }
    val onDemo = run(demo, "c:1", "s:5", 20)
    assert(onDemo.nonEmpty && onDemo == inRounds(run(demo, "c:1", "s:5", 20)))
  }

  test("ids with U+0001 run the kernels in every broadcast verb") {
    // "b\u0001c" is an id like any other in the CSR adjacency, whatever
    // the graph's size: the kernels return what the rounds return
    val sep = "b\u0001c"
    val g = und("a" -> sep, sep -> "d", "a" -> "x")
    val weighted = g.withColumn("w", lit(1.0))
    def levels() = levelRows(Traversal.bfsLevels(g, Seq("a"), 3))
    def cores() = Algorithms.kCore(g).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    def run() = (levels(),
      pathRows(Traversal.pathBetween(g, "a", "d")),
      Traversal.shortestPathsWeighted(weighted, "a").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap,
      cores())
    val got = run()
    assert(got == inRounds(run()))
    assert(got._1 == Seq(("a", 0), (sep, 1), ("d", 2), ("x", 1)))
    assert(got._2.map(_._2) == Seq("a", sep, "d"))
    assert(got._3 == Map("a" -> 0.0, sep -> 1.0, "x" -> 1.0, "d" -> 2.0))
    assert(got._4.values.toSet == Set(1))
    // the kernel regime ran: with the adjacency held, a repeated BFS
    // and kCore read it with no Spark job, where the rounds run several
    var again = (Seq.empty[(String, Int)], Map.empty[String, Int])
    assert(jobsDuring { again = (levels(), cores()) } == 0)
    assert(again == ((got._1, got._4)))
  }

  test("weighted sssp regimes agree: same sums, null weights, duplicates") {
    import spark.implicits._
    val nul = null.asInstanceOf[java.lang.Double]
    def d(x: Double): java.lang.Double = x
    // duplicate (s, b) rows with different weights; "c" only through a
    // null weight (no edge); 0.1 + 0.2 is not 0.3 in doubles; a
    // negative weight that is still cycle-free from "s"
    val e = Seq[(String, String, java.lang.Double)](
        ("s", "a", d(1.0)), ("a", "s", d(1.0)), ("s", "b", d(4.0)),
        ("s", "b", d(2.5)), ("a", "b", d(1.0)), ("b", "c", nul),
        ("a", "😀", d(0.1)), ("😀", "ﾟ", d(0.2)), ("ﾟ", "e", d(-0.05)),
        (null, "a", d(1.0)), ("a", null, d(1.0)), ("b", "f", d(Double.NaN)))
      .toDF("a", "b", "w")
    def dists(src: String) = Traversal.shortestPathsWeighted(e, src)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (src <- Seq("s", "😀", "c", "zz")) {
      val (kernel, rounds) = (dists(src), inRounds(dists(src)))
      assert(kernel == rounds, s"$src: $kernel vs $rounds")
    }
    assert(dists("s") == Map("s" -> 0.0, "a" -> 1.0, "b" -> 2.0,
      "😀" -> (1.0 + 0.1), "ﾟ" -> (1.0 + 0.1 + 0.2), "e" -> (1.0 + 0.1 + 0.2 - 0.05)))
    assert(dists("zz") == Map("zz" -> 0.0))
    assert(Traversal.shortestPathsWeighted(e, null).count() == 0)
  }
}
