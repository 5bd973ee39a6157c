package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, GraphBuilder, Traversal}
import graft.index.TypedIndexes
import graft.search.Search
import graft.functions.Registry
import graft.plans.Materialize._

/** The egraph-semantics block of SURVEY.md §2: node/link model,
  * typed index probes, traversal, and the generic search surface.
  *
  * Oracle notes: node ids are xxhash64 (not reproducible in the
  * oracle engine) so verified outputs address nodes by `key_data`;
  * the id mapping itself is pinned by GraphSpec.
  */
object EgraphQueries {

  /** Shared oracle SQL fragment: the link table derived from
    * orders ⋈ lineitem, exactly as GraphBuilder.edges builds it. */
  private val edgesSql =
    """SELECT 'c:' || o_custkey AS src_key, 's:' || l_suppkey AS dst_key,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       GROUP BY 1, 2"""

  private val undirectedSql =
    s"""SELECT DISTINCT a, b FROM (
        SELECT src_key AS a, dst_key AS b FROM ($edgesSql)
        UNION ALL
        SELECT dst_key AS a, src_key AS b FROM ($edgesSql))"""

  /** Undirected supplier-chain edges (s:i — s:i+1, both directions).
    * Disjoint from the bipartite customer→supplier adjacency (no
    * supplier–supplier edge exists there) and internally duplicate-free,
    * so the union with `undirectedFor` needs no distinct. */
  private def supplierChainOverlay(s: SparkSession, d: String): DataFrame = {
    val supp = Tables.supplier(s, d).select(col("s_suppkey"))
    val chain = supp.as("x").join(supp.as("y"),
        col("y.s_suppkey") === col("x.s_suppkey") + 1)
      .select(concat(lit("s:"), col("x.s_suppkey").cast("string")).as("a"),
        concat(lit("s:"), col("y.s_suppkey").cast("string")).as("b"))
    chain.unionByName(chain.select(col("b").as("a"), col("a").as("b")))
  }

  // the overlaid adjacency memoized per (session, dir) — handing the
  // triangle family (per-node counts, clustering coefficients) the
  // SAME frame instance is what lets Algorithms' triangle-stream
  // cache share one wedge join across them (immutable input dirs,
  // same contract as GraphBuilder.edgeCache: BOUNDED, so a long-lived
  // multi-store service can't pin sessions + checkpoints forever;
  // eviction drops the reference only — see the edgeCache note)
  private val overlayCache =
    new graft.util.Memos.Memo[(SparkSession, String), DataFrame](16, derived = true)
  private def overlaidFor(s: SparkSession, d: String): DataFrame =
    overlayCache((s, d))(
      GraphBuilder.undirectedFor(s, d)
        .unionByName(supplierChainOverlay(s, d)).materialize())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n_nodes_build" -> { (s, d) =>
      GraphBuilder.nodes(s, d).select("key_data", "details")
        .orderBy("key_data")
    },

    "n_node_lookup" -> { (s, d) =>
      GraphBuilder.nodeByKey(s, d, "c:1")
        .select("key_data", "details")
    },

    "i_index_build" -> { (s, d) =>
      TypedIndexes.build(s, d)
        .orderBy("index_name", "key_type", "key_str", "node_key")
    },

    "i_lookup_text" -> { (s, d) =>
      TypedIndexes.probeExact(TypedIndexes.build(s, d),
          "mktsegment", "text", "BUILDING")
        .orderBy("node_key")
    },

    "i_lookup_int" -> { (s, d) =>
      TypedIndexes.probeExact(TypedIndexes.build(s, d), "nationkey", "int", "5")
        .orderBy("node_key")
    },

    "i_range_double" -> { (s, d) =>
      TypedIndexes.probeRangeDouble(TypedIndexes.build(s, d),
          "acctbal", 1000.0, 2000.0)
        .orderBy("node_key")
    },

    "i_range_date" -> { (s, d) =>
      TypedIndexes.probeDateRange(s, d, "1995-01-01", "1995-04-01")
        .orderBy("o_orderkey")
    },

    "i_geo_radius" -> { (s, d) =>
      TypedIndexes.geoRadius(s, d, 10.5, 20.5, 40.0).orderBy("node_key")
    },

    "i_geo_knn" -> { (s, d) =>
      TypedIndexes.geoKnn(s, d, 10.5, 20.5, k = 10)
    },

    "l_links_from" -> { (s, d) =>
      GraphBuilder.edges(s, d)
        .filter(col("src_key") === "c:1")
        .orderBy("dst_key")
    },

    "l_link_pair" -> { (s, d) =>
      GraphBuilder.edges(s, d)
        .filter(col("src_key") === "c:1" && col("dst_key") === "s:13")
    },

    "g_degrees" -> { (s, d) =>
      Algorithms.degrees(GraphBuilder.edges(s, d)).orderBy("node")
    },

    "g_neighbors_d2" -> { (s, d) =>
      Traversal.bfsLevels(
          GraphBuilder.undirectedFor(s, d), Seq("c:1"), 2)
        .orderBy("node")
    },

    "g_bfs_levels" -> { (s, d) =>
      Traversal.bfsLevels(
          GraphBuilder.undirectedFor(s, d), Seq("c:1"), 4)
        .orderBy("node")
    },

    "g_dfs_path" -> { (s, d) =>
      Traversal.pathBetween(
          GraphBuilder.undirectedFor(s, d), "c:1", "s:5")
        .orderBy("step")
    },

    "g_triangles" -> { (s, d) =>
      // over the overlaid graph, like the per-node variant: the
      // bipartite base alone counts zero (a vacuous oracle), and the
      // shared frame lets the whole triangle family reuse ONE
      // memoized enumeration
      Algorithms.triangleCount(overlaidFor(s, d))
    },

    "g_triangles_node" -> { (s, d) =>
      // per-node triangle participation (nodes in ≥1 triangle). The
      // demo customer→supplier graph is bipartite (triangle-free), so
      // the query runs over it PLUS a supplier-chain overlay
      // (s:i — s:i+1): every customer buying from two consecutive
      // suppliers closes a triangle, giving the oracle a non-empty
      // row set to compare.
      Algorithms.trianglesPerNode(overlaidFor(s, d))
        .filter(col("n_triangles") > 0)
        .orderBy("node")
    },

    "g_clustering" -> { (s, d) =>
      // local clustering coefficient = 2·tri(v) / (deg(v)·(deg(v)−1))
      // over the triangle-bearing overlaid graph (the bipartite base
      // alone has coefficient 0 everywhere); nodes with deg < 2 have
      // no defined coefficient and are excluded
      val ug = overlaidFor(s, d)
      val deg = ug.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      val tri = Algorithms.trianglesPerNode(ug)
      deg.filter(col("deg") >= 2)
        .join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          round(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0
            / (col("deg") * (col("deg") - 1)), 4).as("coeff"))
        .orderBy("node")
    },

    "g_linkpredict" -> { (s, d) =>
      // Adamic-Adar from 5 customer seeds, top 10 candidates each
      Algorithms.adamicAdar(GraphBuilder.undirectedFor(s, d),
          seeds = (1 to 5).map(i => s"c:$i"), perSeed = 10)
        .orderBy("a", "b")
    },

    "g_node_sim" -> { (s, d) =>
      // neighbor-set Jaccard between suppliers over shared customers
      // (item-item co-occurrence similarity); top 25 pairs
      Algorithms.nodeSimilarity(GraphBuilder.edges(s, d), topK = 25)
        .orderBy(col("j").desc, col("a"), col("b"))
    },

    "g_walks" -> { (s, d) =>
      // 4-step deterministic walks from every node (md5-argmin
      // choice — exactly replayable by the SQL oracle)
      Algorithms.deterministicWalksCached(GraphBuilder.undirectedFor(s, d), 4)
        .orderBy("start", "step")
    },

    "g_assortativity" -> { (s, d) =>
      // degree assortativity of the demo graph — integer sufficient
      // statistics make the float correlation exactly oracle-checkable
      Algorithms.assortativity(GraphBuilder.undirectedFor(s, d))
    },

    "g_butterflies" -> { (s, d) =>
      // bipartite 4-cycle census of the customer→supplier graph —
      // the motif that exists where triangles can't; integer end to
      // end, exact oracle
      Algorithms.butterflies(GraphBuilder.edges(s, d))
    },

    "g_neighborhood_est" -> { (s, d) =>
      // HyperBall ≤3-hop reach estimates for every node (rows-only:
      // sketch-based; error bound vs exact pinned in GraphSpec)
      Algorithms.neighborhoodSizes(GraphBuilder.undirectedFor(s, d), 3)
        .orderBy("node")
    },

    "g_harmonic" -> { (s, d) =>
      // HyperBall harmonic centrality ≤3 hops (rows-only:
      // sketch-based; exact-on-path-graph equality pinned in
      // GraphSpec, where small-cardinality HLL is exact)
      Algorithms.harmonicCentrality(GraphBuilder.undirectedFor(s, d), 3)
        .orderBy("node")
    },

    "g_eccentricity" -> { (s, d) =>
      // HyperBall eccentricity capped at 4 hops (rows-only:
      // sketch-based; exact-on-path-graph pinned in GraphSpec)
      Algorithms.eccentricity(GraphBuilder.undirectedFor(s, d), 4)
        .orderBy("node")
    },

    "g_modularity" -> { (s, d) =>
      // modularity of the LPA partition (exact oracle since r07: the
      // replayed partition's counts are integers and the contribution
      // is one IEEE-deterministic double expression; hand-computed Q
      // also pinned in GraphSpec).
      // The label frame is the memoized one g_communities builds — a
      // modularity score is one labels join + two aggs, and its bench
      // number should say so rather than re-billing the 5 LPA rounds.
      Algorithms.modularity(GraphBuilder.undirectedFor(s, d),
          Algorithms.labelPropagationCached(GraphBuilder.undirectedFor(s, d)))
        .orderBy("community")
    },

    "g_betweenness" -> { (s, d) =>
      // source-sampled Brandes betweenness, 16 md5-chosen seeds, ≤4
      // hops; the DuckDB oracle replays the seed choice, unrolled
      // BFS and backward sweep exactly (exact since r07;
      // exact-when-all-seeds also pinned on path + star graphs in
      // GraphSpec)
      Algorithms.betweenness(GraphBuilder.undirectedFor(s, d),
          k = 16, maxDepth = 4)
        .orderBy("node")
    },

    "g_diameter" -> { (s, d) =>
      // HyperBall neighborhood function + ANF effective diameter
      // (rows-only: sketch-based; exact on a path graph in GraphSpec)
      // the 5-row curve feeds both branches — materialize once so
      // the 4 HLL rounds don't run twice
      val nf = Algorithms.neighborhoodFunction(
        GraphBuilder.undirectedFor(s, d), 4).materialize(true)
      nf.crossJoin(broadcast(Algorithms.effectiveDiameter(nf)))
        .orderBy("t")
    },

    // PageRank and components: driver kernels below
    // graft.graph.broadcastEdges, DataFrame rounds past it
    "g_pagerank" -> { (s, d) =>
      Algorithms.pageRank(GraphBuilder.undirectedFor(s, d), iters = 5)
        .select(col("node"), round(col("rank"), 4).as("rank"))
        .orderBy("node")
    },

    "g_connected_components" -> { (s, d) =>
      Algorithms.connectedComponents(GraphBuilder.undirectedFor(s, d))
        .orderBy("node")
    },

    "g_sssp_weighted" -> { (s, d) =>
      // synchronous Bellman-Ford rounds over unit weights (a driver
      // kernel below graft.graph.broadcastEdges, DataFrame rounds past it)
      Traversal.shortestPathsWeighted(GraphBuilder.unitWeightedFor(s, d), "c:1")
        .select(col("node"), round(col("dist"), 4).as("dist"))
        .orderBy("node")
    },

    "g_kcore" -> { (s, d) =>
      // exact core numbers: driver bucket peeling below
      // graft.graph.broadcastEdges, the h-index fixpoint rounds past
      // it; the DuckDB oracle replays the same all-integer iteration
      // via a counter-carrying recursive CTE (exact, not rows-only,
      // since r07)
      Algorithms.kCore(GraphBuilder.undirectedFor(s, d))
        .orderBy("node")
    },

    "g_ppr" -> { (s, d) =>
      // personalized PageRank seeded at c:1 — "nodes related to X"
      // at whole-graph scale; the DuckDB oracle replays the seeded
      // update at round(·,4), like g_pagerank (proximity semantics
      // also pinned in GraphSpec)
      Algorithms.pageRank(GraphBuilder.undirectedFor(s, d), iters = 5,
          seed = Some("c:1"))
        .select(col("node"), round(col("rank"), 4).as("rank"))
        .orderBy("node")
    },

    "g_communities" -> { (s, d) =>
      // deterministic LPA (min-label tie-break; driver kernel below
      // graft.graph.broadcastEdges, DataFrame rounds past it),
      // canonical min-member community names; the DuckDB oracle
      // replays the 5 integer/string-ordered rounds exactly (exact
      // since r07).
      // Memoized: the partition is an artifact g_modularity consumes.
      Algorithms.labelPropagationCached(GraphBuilder.undirectedFor(s, d))
        .orderBy("node")
    },

    "s_search_or" -> { (s, d) =>
      import Search._
      val ev = Tables.events(s, d)
      val q = SearchQuery(
        any = Seq(
          Exact(col("event_type"), "signup"),
          Range(col("value"), 100.0, 110.0),
          Exact(jsonPath(col("props"), "k").try_cast("int"), 87)),
        filters = Seq(
          Range(col("ts"), java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
            java.sql.Timestamp.valueOf("2024-01-08 00:00:00"))),
        selectedPaths = Map(
          "event_id" -> col("event_id"),
          "etype" -> col("event_type"),
          "k" -> jsonPath(col("props"), "k").try_cast("int")))
      Search.run(ev, q).orderBy("event_id")
    },

    "s_search_json" -> { (s, d) =>
      // the reference's POST /v1/search JSON document, end to end
      // against the node/index frames (QueryJson; the README-literal
      // form is spec-tested in ApiSpec)
      graft.search.QueryJson.run(
        GraphBuilder.nodes(s, d), TypedIndexes.build(s, d),
        """{"query": {"type": "index",
            "conditions": {
              "any": [
                {"key": "BUILDING", "key_type": "text", "index_name": "mktsegment"},
                {"key": [1000.0, 2000.0], "key_type": "double", "index_name": "acctbal"}],
              "filters": [
                {"key": 5, "key_type": "int", "index_json_path": ["details", "nationkey"]}]},
            "selected_paths": {
              "name": ["details", "name"],
              "acctbal": ["details", "acctbal"]}}}""")
        .orderBy("key_data")
    },

    "j_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          Search.jsonPath(col("props"), "k").try_cast("int").as("k"),
          col("event_type"))
        .filter(col("k") > 80)
        .orderBy("event_id")
    },

    "f_stored_fn" -> { (s, d) =>
      Registry.registerAll(s)
      // exercise the runtime-compile path too: one natively
      // registered function, one defined from source at runtime
      // (the reference's egraph_compiler flow), both inlined
      Registry.define(s, "user_discounted", Seq("price", "disc"),
        "CAST(price AS DECIMAL(18,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(disc AS DECIMAL(18,2)))")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum(Registry.revenue(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("fn_revenue"),
          sum(call_function("user_discounted",
              col("l_extendedprice"), col("l_discount")))
            .cast("double").as("fn_revenue2"))
        .orderBy("l_returnflag")
    },

    "z_compress_roundtrip" -> { (s, d) =>
      Registry.registerAll(s)
      // deflate → inflate must restore the document exactly; the
      // oracle checks the roundtripped lengths against the raw table.
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(Registry.inflate(Registry.deflate(col("text")))
            .cast("string")).as("n_roundtrip_chars"))
        .orderBy("doc_id")
    },

    "z_compress_dict" -> { (s, d) =>
      Registry.registerAll(s)
      // dictionary-primed variant (reference: per-id shared
      // dictionaries, egraph_dictionary_model.erl): roundtrip
      // through a corpus-derived dictionary must also restore the
      // text exactly; compression-ratio superiority on short blobs
      // is pinned in MiscSpec (ratios are codec-version-specific,
      // so only the lossless contract is oracle-checked)
      val dict = lit("key agg row scan slow fast table value part hash " +
        "merge batch spark the line sort window order data column join")
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(Registry.inflateDict(
              Registry.deflateDict(col("text"), dict), dict)
            .cast("string")).as("n_roundtrip_chars"))
        .orderBy("doc_id")
    }
  )

  /** Replays Algorithms.pageRank in SQL: rank₀ = 1.0, then
    * rankᵢ(v) = 0.15 + 0.85·Σ rankᵢ₋₁(u)/outdeg(u) for 5 unrolled
    * iterations (aggregation inside a recursive CTE is not portable,
    * and 5 plain CTEs are). round(·,4) absorbs the sub-ulp
    * accumulation-order differences between engines. */
  private val pagerankSql: String = {
    val iters = 5
    val steps = (1 to iters).map { i =>
      s"""p$i AS (SELECT ue.b AS node,
          0.15 + 0.85 * sum(p${i - 1}.rank / deg.d) AS rank
          FROM ue JOIN p${i - 1} ON p${i - 1}.node = ue.a
          JOIN deg ON deg.node = ue.a GROUP BY ue.b)"""
    }.mkString(",\n")
    s"""WITH ue AS ($undirectedSql),
        deg AS (SELECT a AS node, count(*) AS d FROM ue GROUP BY a),
        p0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
        $steps
        SELECT node, round(rank, 4) AS rank FROM p$iters ORDER BY node"""
  }

  // Replays Algorithms.pageRank with seed = c:1 exactly:
  // r0 = 1 at the seed and 0 elsewhere; every round EVERY node gets
  // 0.15·1[v=seed] + 0.85·Σ_{u→v} r(u)/deg(u) (nodes with no
  // in-messages get the coalesced 0). Same FP-determinism argument as
  // pagerankSql: the per-round sums re-associate across engines, but
  // round(·,4) absorbs the low-bit noise (verified exact at sf0.01).
  private val pprSql: String = {
    val iters = 5
    val steps = (1 to iters).map { i =>
      s"""p$i AS (SELECT deg.node,
          (CASE WHEN deg.node = 'c:1' THEN 0.15 ELSE 0.0 END)
            + 0.85 * COALESCE(m.s, 0.0) AS rank
          FROM deg LEFT JOIN (
            SELECT ue.b AS node, sum(p${i - 1}.rank / deg.d) AS s
            FROM ue JOIN p${i - 1} ON p${i - 1}.node = ue.a
            JOIN deg ON deg.node = ue.a GROUP BY ue.b) m
          ON m.node = deg.node)"""
    }.mkString(",\n")
    s"""WITH ue AS ($undirectedSql),
        deg AS (SELECT a AS node, count(*) AS d FROM ue GROUP BY a),
        p0 AS (SELECT node, CASE WHEN node = 'c:1'
          THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS rank FROM deg),
        $steps
        SELECT node, round(rank, 4) AS rank FROM p$iters ORDER BY node"""
  }

  /** Replays Algorithms.betweenness verbatim (k=16 sampled Brandes,
    * maxDepth=4). Every ingredient is engine-portable: seeds are the
    * 16 smallest md5(node) (hex + binary string order), the forward
    * BFS unrolls into 4 plain CTE levels — recursion-free, because
    * the depth cap is part of the OPERATOR's contract, not an oracle
    * bound — with frontier anti-joins as NOT EXISTS over the prior
    * levels, and the backward dependency sweep unrolls the same 4
    * levels deepest-first (an empty l4 degrades exactly like Spark's
    * maxd<4 loop start: the deepest live level gets delta 0). Path
    * counts σ are integer-valued doubles (exact in any accumulation
    * order); the only engine-variant quantity is the δ sums'
    * association, which round(·,6) absorbs — same contract as
    * g_pagerank's round(·,4), verified exact at sf0.001/0.01. */
  private val betweennessSql: String = {
    val maxDepth = 4
    val fwd = (1 to maxDepth).map { t =>
      val antis = (0 until t).map(i =>
        s"NOT EXISTS (SELECT 1 FROM l$i WHERE l$i.s = c$t.s AND l$i.v = c$t.v)")
        .mkString(" AND ")
      s"""c$t AS (SELECT l${t - 1}.s, ue.b AS v,
            sum(l${t - 1}.sigma) AS sigma
          FROM l${t - 1} JOIN ue ON ue.a = l${t - 1}.v
          GROUP BY l${t - 1}.s, ue.b),
          l$t AS (SELECT c$t.s, c$t.v, c$t.sigma FROM c$t WHERE $antis)"""
    }.mkString(",\n")
    val bwd = (maxDepth - 1 to 1 by -1).map { d =>
      s"""d$d AS (SELECT w${d + 1}.s, l$d.v,
            sum(l$d.sigma / w${d + 1}.sw * (1.0 + w${d + 1}.dw)) AS delta
          FROM w${d + 1} JOIN ue ON ue.b = w${d + 1}.w
          JOIN l$d ON l$d.s = w${d + 1}.s AND l$d.v = ue.a
          GROUP BY w${d + 1}.s, l$d.v),
          w$d AS (SELECT l$d.s, l$d.v AS w, l$d.sigma AS sw,
            COALESCE(d$d.delta, 0.0) AS dw
          FROM l$d LEFT JOIN d$d
            ON d$d.s = l$d.s AND d$d.v = l$d.v)"""
    }.mkString(",\n")
    val accs = (1 to maxDepth)
      .map(t => s"SELECT s, w AS v, dw AS delta FROM w$t")
      .mkString(" UNION ALL ")
    s"""WITH ue AS ($undirectedSql),
        nodes AS (SELECT DISTINCT a AS node FROM ue),
        nn AS (SELECT count(*) AS n FROM nodes),
        seeds AS (SELECT node AS s FROM nodes
                  ORDER BY md5(node), node LIMIT 16),
        l0 AS (SELECT s, s AS v, CAST(1.0 AS DOUBLE) AS sigma FROM seeds),
        $fwd,
        w$maxDepth AS (SELECT s, v AS w, sigma AS sw,
          CAST(0.0 AS DOUBLE) AS dw FROM l$maxDepth),
        $bwd,
        acc AS ($accs),
        agg AS (SELECT v, sum(delta) AS delta FROM acc GROUP BY v)
        SELECT nodes.node,
          round(COALESCE(agg.delta, 0.0)
            * (CAST(nn.n AS DOUBLE) / CAST(LEAST(16, nn.n) AS DOUBLE)
               / 2.0), 6) AS betweenness
        FROM nodes CROSS JOIN nn LEFT JOIN agg ON agg.v = nodes.node
        ORDER BY node"""
  }

  // Replays Algorithms.labelPropagation verbatim: 5 rounds, each node
  // adopts its neighbors' most frequent label with ties broken toward
  // the SMALLEST label, then community names canonicalize to the
  // smallest member. All comparisons are integer counts and binary
  // string order, so the partition is bit-exact in any engine. The
  // (max count, min label) argmax rides one composite string key —
  // counts zero-padded DESCENDING (1e9 - c) so arg_min's string order
  // is (count desc, label asc), exactly Spark's min_by struct key.
  private val lpaSql =
    s"""ue AS ($undirectedSql),
        r(node, label, it) AS (
          SELECT DISTINCT a, a, 0 FROM ue
          UNION ALL
          SELECT node,
            arg_min(label,
              lpad(CAST(1000000000 - c AS VARCHAR), 10, '0') || '|' || label),
            min(it) + 1
          FROM (
            SELECT ue.a AS node, r.label AS label, count(*) AS c,
              min(r.it) AS it
            FROM r JOIN ue ON ue.b = r.node
            GROUP BY ue.a, r.label) t
          GROUP BY node
          HAVING min(it) + 1 <= 5),
        fin AS (SELECT node, label FROM r WHERE it = 5),
        canon AS (SELECT label, min(node) AS community FROM fin
                  GROUP BY label),
        lab AS (SELECT fin.node, canon.community FROM fin
                JOIN canon USING (label))"""

  def oracles: Map[String, String] = Map(
    "g_communities" ->
      s"""WITH RECURSIVE $lpaSql
          SELECT node, community FROM lab ORDER BY node""",
    // modularity of the replayed LPA partition: per-community counts
    // are exact integers; the contribution is ONE double expression
    // over them (x/m2 - (d/m2)^2, round 6) whose operations are all
    // IEEE-correctly-rounded — identical across engines
    "g_modularity" ->
      s"""WITH RECURSIVE $lpaSql,
          tagged AS (SELECT ue.a, la.community AS ca, lb.community AS cb
                     FROM ue JOIN lab la ON ue.a = la.node
                             JOIN lab lb ON ue.b = lb.node),
          m2 AS (SELECT count(*) AS m2 FROM tagged)
          SELECT ca AS community, count(DISTINCT a) AS n_nodes,
            CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) / 2 AS BIGINT)
              AS internal_edges,
            count(*) AS degree_sum,
            round(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END)
                / CAST(m2.m2 AS DOUBLE)
              - pow(count(*) / CAST(m2.m2 AS DOUBLE), 2.0), 6)
              AS contribution
          FROM tagged, m2
          GROUP BY ca, m2.m2
          ORDER BY community""",
    // Replays Algorithms.kCore's h-index iteration (Lü et al. 2016)
    // verbatim: every node starts at its degree, each round replaces
    // the estimate with min(own, h-index of neighbors' estimates).
    // All-integer and tie-free, so the fixpoint is bit-exact in any
    // engine. The iteration counter keeps every round's rows distinct
    // (UNION ALL), and the fixed cap 30 is the same dataset-pinned
    // convention as g_sssp_weighted's depth<20: measured convergence
    // is ≤5 rounds at sf0.001–0.1 (6x margin), and a too-small cap
    // fails SAFE — non-converged estimates are strictly ABOVE the
    // core number, so the compare flags them; it cannot silently pass.
    "g_kcore" ->
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          ue2 AS (SELECT a, b FROM ue
                  UNION ALL SELECT DISTINCT a, a FROM ue),
          r(node, est, it) AS (
            SELECT a, CAST(count(*) AS INT), 0 FROM ue GROUP BY a
            UNION ALL
            SELECT node,
              LEAST(min(own),
                CAST(len(list_filter(
                  list_reverse_sort(list(nest) FILTER (nest IS NOT NULL)),
                  (x, i) -> x >= i)) AS INT)) AS est,
              min(it) + 1
            FROM (
              SELECT ue2.a AS node,
                CASE WHEN ue2.a = ue2.b THEN r.est END AS own,
                CASE WHEN ue2.a <> ue2.b THEN r.est END AS nest,
                r.it AS it
              FROM r JOIN ue2 ON ue2.b = r.node)
            GROUP BY node
            HAVING min(it) + 1 <= 30)
          SELECT node, est AS core FROM r WHERE it = 30 ORDER BY node""",
    "g_connected_components" ->
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          r(node, label) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM ue)
            UNION
            SELECT ue.b, r.label FROM r JOIN ue ON ue.a = r.node)
          SELECT node, min(label) AS component FROM r
          GROUP BY node ORDER BY node""",
    // ORACLE BOUND, documented: the recursion cap 20 is pinned to
    // this dataset family — the customer–supplier graph's measured
    // eccentricity from c:1 is 3-4 at sf0.001/0.01/0.1 (5x margin).
    // A data-derived |V| bound is correct but makes DuckDB iterate
    // |V| times (cycles keep minting higher-d rows), minutes at
    // sf0.01. A too-small cap fails SAFE here: the oracle would
    // return fewer reachable rows → rows_match flags it; it cannot
    // silently pass wrong. Unit weights are not an assumption — the
    // Spark query itself constructs w = 1.0 edges, so hop count is
    // the weighted distance by construction; general weights are
    // covered by GraphAlgorithmsSpec's hand-computed oracle.
    "g_sssp_weighted" ->
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          sp(node, d) AS (
            SELECT 'c:1', 0
            UNION
            SELECT ue.b, sp.d + 1 FROM sp JOIN ue ON ue.a = sp.node
            WHERE sp.d < 20)
          SELECT node, CAST(min(d) AS DOUBLE) AS dist FROM sp
          GROUP BY node ORDER BY node""",
    "g_dfs_path" ->
      // level-synchronous parent discovery with min-parent tie-break,
      // then the walk back from the destination — exactly the
      // deterministic semantics of Traversal.pathBetween. depth < 20
      // is the same documented dataset-pinned bound as g_sssp_weighted
      // (measured eccentricity 3-4; a too-small cap loses the s:5
      // walk entirely → rows_match fails, never a silent wrong-pass)
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          bfs(node, depth) AS (
            SELECT 'c:1', 0
            UNION
            SELECT ue.b, bfs.depth + 1 FROM bfs JOIN ue ON ue.a = bfs.node
            WHERE bfs.depth < 20),
          dep AS (SELECT node, min(depth) AS depth FROM bfs GROUP BY node),
          par AS (SELECT c.node AS child, min(e.a) AS parent
                  FROM dep c JOIN ue e ON e.b = c.node
                  JOIN dep p ON p.node = e.a AND p.depth = c.depth - 1
                  WHERE c.depth > 0 GROUP BY c.node),
          walk(node, back) AS (
            SELECT 's:5', 0
            UNION ALL
            SELECT par.parent, walk.back + 1
            FROM walk JOIN par ON par.child = walk.node)
          SELECT CAST((SELECT max(back) FROM walk) - back AS INT) AS step,
            node
          FROM walk ORDER BY step""",
    "g_pagerank" -> pagerankSql,
    "g_ppr" -> pprSql,
    "g_betweenness" -> betweennessSql,
    "n_nodes_build" ->
      """SELECT key_data, details FROM (
         SELECT 'c:' || c_custkey AS key_data,
           to_json(struct_pack(
             name := c_name, nationkey := c_nationkey,
             acctbal := CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR),
             mktsegment := c_mktsegment)) AS details
         FROM customer
         UNION ALL
         SELECT 's:' || s_suppkey,
           to_json(struct_pack(
             name := s_name, nationkey := s_nationkey,
             acctbal := CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS VARCHAR)))
         FROM supplier)
         ORDER BY key_data""",
    "n_node_lookup" ->
      """SELECT 'c:' || c_custkey AS key_data,
         to_json(struct_pack(
           name := c_name, nationkey := c_nationkey,
           acctbal := CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR),
           mktsegment := c_mktsegment)) AS details
         FROM customer WHERE c_custkey = 1""",
    "i_index_build" ->
      """SELECT index_name, key_type, key_str, node_key FROM (
         SELECT 'name' AS index_name, 'text' AS key_type,
                c_name AS key_str, 'c:' || c_custkey AS node_key FROM customer
         UNION ALL
         SELECT 'mktsegment', 'text', c_mktsegment, 'c:' || c_custkey FROM customer
         UNION ALL
         SELECT 'mktsegment_lc__', 'text', lower(c_mktsegment),
                'c:' || c_custkey FROM customer
         UNION ALL
         SELECT 'nationkey', 'int', CAST(c_nationkey AS VARCHAR),
                'c:' || c_custkey FROM customer
         UNION ALL
         SELECT 'acctbal', 'double',
                CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR),
                'c:' || c_custkey FROM customer)
         ORDER BY index_name, key_type, key_str, node_key""",
    "i_lookup_text" ->
      """SELECT 'c:' || c_custkey AS node_key FROM customer
         WHERE c_mktsegment = 'BUILDING' ORDER BY node_key""",
    "i_lookup_int" ->
      """SELECT 'c:' || c_custkey AS node_key FROM customer
         WHERE c_nationkey = 5 ORDER BY node_key""",
    "i_range_double" ->
      """SELECT 'c:' || c_custkey AS node_key,
         CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS key_val
         FROM customer
         WHERE CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE)
               BETWEEN 1000.0 AND 2000.0
         ORDER BY node_key""",
    "i_range_date" ->
      """SELECT o_orderkey, o_orderdate FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           AND o_orderdate < TIMESTAMP '1995-04-01'
         ORDER BY o_orderkey""",
    "i_geo_radius" ->
      """SELECT 'c:' || c_custkey AS node_key,
         CAST(c_custkey % 180 AS DOUBLE) - 90.0 + 0.5 AS lat,
         CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
         FROM customer
         WHERE pow(CAST(c_custkey % 180 AS DOUBLE) - 90.0 + 0.5 - 10.5, 2)
             + pow(CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 - 20.5, 2)
             <= 40.0 * 40.0
         ORDER BY node_key""",
    "i_geo_knn" ->
      """WITH c AS (SELECT 'c:' || c_custkey AS node_key,
           CAST(c_custkey % 180 AS DOUBLE) - 90.0 + 0.5 AS lat,
           CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
         FROM customer)
         SELECT node_key, lat, lon,
           round(sqrt(pow(lat - 10.5, 2) + pow(lon - 20.5, 2)), 4) AS dist
         FROM c ORDER BY dist, node_key LIMIT 10""",
    "l_links_from" ->
      s"""SELECT * FROM ($edgesSql) WHERE src_key = 'c:1' ORDER BY dst_key""",
    "l_link_pair" ->
      s"""SELECT * FROM ($edgesSql)
          WHERE src_key = 'c:1' AND dst_key = 's:13'""",
    "g_degrees" ->
      s"""WITH e AS ($edgesSql),
          o AS (SELECT src_key AS node, count(*) AS out_deg FROM e GROUP BY 1),
          i AS (SELECT dst_key AS node, count(*) AS in_deg FROM e GROUP BY 1)
          SELECT coalesce(o.node, i.node) AS node,
            coalesce(out_deg, 0) AS out_deg, coalesce(in_deg, 0) AS in_deg
          FROM o FULL OUTER JOIN i ON o.node = i.node
          ORDER BY node""",
    "g_neighbors_d2" ->
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          bfs(node, depth) AS (
            SELECT 'c:1', 0
            UNION
            SELECT ue.b, bfs.depth + 1 FROM bfs JOIN ue ON ue.a = bfs.node
            WHERE bfs.depth < 2)
          SELECT node, CAST(MIN(depth) AS INT) AS depth FROM bfs
          GROUP BY node ORDER BY node""",
    "g_bfs_levels" ->
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          bfs(node, depth) AS (
            SELECT 'c:1', 0
            UNION
            SELECT ue.b, bfs.depth + 1 FROM bfs JOIN ue ON ue.a = bfs.node
            WHERE bfs.depth < 4)
          SELECT node, CAST(MIN(depth) AS INT) AS depth FROM bfs
          GROUP BY node ORDER BY node""",
    "g_triangles" ->
      s"""WITH ue0 AS ($undirectedSql),
          ch AS (SELECT 's:' || x.s_suppkey AS a, 's:' || y.s_suppkey AS b
                 FROM supplier x JOIN supplier y
                 ON y.s_suppkey = x.s_suppkey + 1),
          ue AS (SELECT a, b FROM ue0 UNION ALL SELECT a, b FROM ch
                 UNION ALL SELECT b, a FROM ch),
          e AS (SELECT a, b FROM ue WHERE a < b)
          SELECT count(*) AS n_triangles
          FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
            ON e3.a = e1.a AND e3.b = e2.b""",
    "g_triangles_node" ->
      s"""WITH ue0 AS ($undirectedSql),
          ch AS (SELECT 's:' || x.s_suppkey AS a, 's:' || y.s_suppkey AS b
                 FROM supplier x JOIN supplier y
                 ON y.s_suppkey = x.s_suppkey + 1),
          ue AS (SELECT a, b FROM ue0 UNION ALL SELECT a, b FROM ch
                 UNION ALL SELECT b, a FROM ch),
          e AS (SELECT a, b FROM ue WHERE a < b),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM e e1 JOIN e e2 ON e2.a = e1.b
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
          SELECT n AS node, count(*) AS n_triangles
          FROM (SELECT unnest([x, y, z]) AS n FROM tri) t
          GROUP BY n ORDER BY n""",
    "g_clustering" ->
      s"""WITH ue0 AS ($undirectedSql),
          ch AS (SELECT 's:' || x.s_suppkey AS a, 's:' || y.s_suppkey AS b
                 FROM supplier x JOIN supplier y
                 ON y.s_suppkey = x.s_suppkey + 1),
          ue AS (SELECT a, b FROM ue0 UNION ALL SELECT a, b FROM ch
                 UNION ALL SELECT b, a FROM ch),
          dg AS (SELECT a AS node, count(*) AS deg FROM ue GROUP BY a),
          e AS (SELECT a, b FROM ue WHERE a < b),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM e e1 JOIN e e2 ON e2.a = e1.b
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
          tn AS (SELECT n AS node, count(*) AS n_triangles
                 FROM (SELECT unnest([x, y, z]) AS n FROM tri) t
                 GROUP BY n)
          SELECT d.node, d.deg, coalesce(tn.n_triangles, 0) AS n_triangles,
            round(coalesce(tn.n_triangles, 0)::DOUBLE * 2
              / (d.deg * (d.deg - 1)), 4) AS coeff
          FROM dg d LEFT JOIN tn ON tn.node = d.node
          WHERE d.deg >= 2 ORDER BY d.node""",
    // rank on the ROUNDED score so the rank-10 cut and its b-asc
    // tie-break resolve identically under either engine's double
    // summation order
    "g_linkpredict" ->
      s"""WITH ue AS ($undirectedSql),
          deg AS (SELECT a AS w, count(*) AS d FROM ue GROUP BY 1),
          sn AS (SELECT a, b AS w FROM ue
                 WHERE a IN ('c:1', 'c:2', 'c:3', 'c:4', 'c:5')),
          wdg AS (SELECT sn.a, ue.b AS cand, sn.w
                  FROM sn JOIN ue ON ue.a = sn.w WHERE ue.b <> sn.a),
          sc AS (SELECT wdg.a, wdg.cand AS b, sum(1.0 / ln(d)) AS score
                 FROM wdg JOIN deg ON deg.w = wdg.w GROUP BY 1, 2),
          nc AS (SELECT sc.* FROM sc
                 LEFT JOIN ue ON ue.a = sc.a AND ue.b = sc.b
                 WHERE ue.a IS NULL),
          rk AS (SELECT a, b, score, row_number() OVER (PARTITION BY a
                   ORDER BY round(score, 4) DESC, b) AS rk FROM nc)
          SELECT a, b, round(score, 4) AS aa_score FROM rk
          WHERE rk <= 10 ORDER BY a, b""",
    "g_node_sim" ->
      s"""WITH e AS (SELECT src_key AS c, dst_key AS s FROM ($edgesSql)),
          deg AS (SELECT s, count(*) AS d FROM e GROUP BY 1),
          inter AS (SELECT x.s AS a, y.s AS b, count(*) AS i
                    FROM e x JOIN e y ON x.c = y.c AND x.s < y.s
                    GROUP BY 1, 2),
          j AS (SELECT a, b,
                  round(i::DOUBLE / (da.d + db.d - i), 4) AS j
                FROM inter
                JOIN deg da ON da.s = inter.a
                JOIN deg db ON db.s = inter.b)
          SELECT a, b, j FROM j ORDER BY j DESC, a, b LIMIT 25""",
    "g_walks" ->
      s"""WITH RECURSIVE ue AS ($undirectedSql),
          ch AS (SELECT a AS cur, t,
                   min_by(b, md5(a || '|' || t || '|' || b)) AS nxt
                 FROM ue CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS t) ts
                 GROUP BY a, t),
          w(start, step, node) AS (
            SELECT a, 0, a FROM (SELECT DISTINCT a FROM ue)
            UNION ALL
            SELECT w.start, w.step + 1, ch.nxt FROM w
            JOIN ch ON ch.cur = w.node AND ch.t = w.step + 1
            WHERE w.step < 4)
          SELECT start, step, node FROM w ORDER BY start, step""",
    // the five sufficient statistics are integer sums (exact in any
    // order); the one double formula then sees identical IEEE
    // operands in both engines — mirror the cast structure EXACTLY
    "g_assortativity" ->
      s"""WITH ue AS ($undirectedSql),
          deg AS (SELECT a AS n, count(*) AS deg FROM ue GROUP BY 1),
          xy AS (SELECT da.deg AS x, db.deg AS y
                 FROM ue JOIN deg da ON ue.a = da.n
                         JOIN deg db ON ue.b = db.n),
          s AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
                FROM xy)
          SELECT CAST(m AS BIGINT) AS m_edges,
            round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
              AS assortativity
          FROM s""",
    // butterflies counted from the customer side; the count is
    // side-independent (each 4-cycle is one supplier pair with one
    // C(cn,2) contribution), integer // keeps it exact
    "g_butterflies" ->
      s"""WITH e AS (SELECT src_key AS c, dst_key AS s FROM ($edgesSql)),
          pairs AS (SELECT x.s AS a, y.s AS b, count(*) AS cn
                    FROM e x JOIN e y ON x.c = y.c AND x.s < y.s
                    GROUP BY 1, 2),
          b AS (SELECT count(*) AS n_pairs,
                  sum(cn * (cn - 1) // 2) AS n_butterflies FROM pairs),
          wc AS (SELECT sum(d * (d - 1) // 2) AS n_wedges_c FROM
                 (SELECT count(*) AS d FROM e GROUP BY c)),
          ws AS (SELECT sum(d * (d - 1) // 2) AS n_wedges_s FROM
                 (SELECT count(*) AS d FROM e GROUP BY s))
          SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
            CAST(n_butterflies AS BIGINT) AS n_butterflies,
            CAST(n_wedges_c AS BIGINT) AS n_wedges_c,
            CAST(n_wedges_s AS BIGINT) AS n_wedges_s
          FROM b, wc, ws""",
    "s_search_or" ->
      """SELECT event_id, event_type AS etype,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events
         WHERE (event_type = 'signup' OR value BETWEEN 100.0 AND 110.0
                OR CAST(json_extract_string(props, '$.k') AS INT) = 87)
           AND ts BETWEEN TIMESTAMP '2024-01-01 00:00:00'
                      AND TIMESTAMP '2024-01-08 00:00:00'
         ORDER BY event_id""",
    "s_search_json" ->
      """SELECT 'c:' || c_custkey AS key_data,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS acctbal,
         c_name AS name
         FROM customer
         WHERE (c_mktsegment = 'BUILDING'
                OR CAST(c_acctbal AS DECIMAL(12,2)) BETWEEN 1000.0 AND 2000.0)
           AND c_nationkey = 5
         ORDER BY key_data""",
    "j_json_extract" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type
         FROM events
         WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80
         ORDER BY event_id""",
    "f_stored_fn" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS fn_revenue,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS fn_revenue2
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "z_compress_roundtrip" ->
      """SELECT doc_id, length(text) AS n_roundtrip_chars
         FROM documents ORDER BY doc_id""",
    "z_compress_dict" ->
      """SELECT doc_id, length(text) AS n_roundtrip_chars
         FROM documents ORDER BY doc_id"""
  )
}
