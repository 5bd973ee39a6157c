package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, GraphBuilder, Traversal}
import graft.search.Search
import graft.plans.Materialize._

/** Facade exposing the reference's operation surface as batch
  * verbs over the three frames. A user of the reference maps each
  * HTTP endpoint onto one method here:
  *
  *   POST /detail            → sources.DocumentIngest.nodes/indexes
  *   GET  /detail/<key>      → [[node]]
  *   GET  /index/<key>       → [[indexLookup]]
  *   POST /link              → sources.DocumentIngest.links
  *   GET  /link/<src>        → [[linksFrom]] / [[link]]
  *   GET  /v1/search/<key>?maxdepth=N          → [[neighbors]]
  *   GET  /v1/search/<key>?destination&dfs     → [[path]]
  *   POST /v1/search (any/filters/selected)    → [[search]]
  */
final class EGraph(
    val nodes: DataFrame,
    val edges: DataFrame,
    val indexes: DataFrame) {

  private lazy val undirected = GraphBuilder.undirectedOf(edges)

  def node(key: String): DataFrame =
    nodes.filter(col("key_data") === key)

  /** Lookup by the xxhash64 node id — the reference's
    * `?keytype=rawhex` addressing (`GET /detail/<hex-id>`). */
  def nodeById(id: Long): DataFrame =
    nodes.filter(col("id") === id)

  /** Hex form, exactly as the reference prints ids. */
  def nodeByHex(hex: String): DataFrame =
    nodeById(java.lang.Long.parseUnsignedLong(hex, 16))

  def indexLookup(name: String, keyType: String, key: String): DataFrame =
    indexes.filter(col("index_name") === name &&
      col("key_type") === keyType && col("key_str") === key)
      .select("node_key")

  /** A store-loaded frame carries the typed key_num shadow column
    * (GraphStore.saveIndexes): filtering it pushes to the scan, as in
    * QueryJson.run; a cast of key_str cannot. */
  def indexRange(name: String, keyType: String, lo: Double, hi: Double): DataFrame = {
    val key =
      if (indexes.columns.contains("key_num")) col("key_num")
      else col("key_str").try_cast("double")
    indexes.filter(col("index_name") === name && col("key_type") === keyType &&
      key.between(lo, hi))
      .select("node_key")
  }

  def linksFrom(key: String): DataFrame =
    edges.filter(col("src_key") === key)

  def link(src: String, dst: String): DataFrame =
    edges.filter(col("src_key") === src && col("dst_key") === dst)

  def neighbors(key: String, maxDepth: Int): DataFrame =
    Traversal.bfsLevels(undirected, Seq(key), maxDepth)

  /** k-hop expansion with each reached node's details attached —
    * the payload `GET /v1/search/<key>?maxdepth=N` returns. */
  def neighborsWithDetails(key: String, maxDepth: Int): DataFrame =
    neighbors(key, maxDepth)
      .join(nodes, col("node") === col("key_data"), "left")
      .select(col("node"), col("depth"), col("details"))

  def path(src: String, dst: String, maxDepth: Int = 20): DataFrame =
    Traversal.pathBetween(undirected, src, dst, maxDepth)

  def search(q: Search.SearchQuery): DataFrame = Search.run(nodes, q)

  /** The reference's POST /v1/search JSON document, verbatim —
    * probes the typed indexes, filters details, projects paths. */
  def search(queryJson: String): DataFrame =
    graft.search.QueryJson.run(nodes, indexes, queryJson)

  /** Expose the graph to pure-SQL users: temp views
    * `<prefix>nodes` / `<prefix>edges` / `<prefix>indexes` /
    * `<prefix>adjacency` plus every native graft function — after
    * this, `spark.sql("SELECT * FROM graft_nodes WHERE ...")`
    * queries the same frames the facade methods run on (views are
    * lazy plan aliases: pushdown and pruning still reach the
    * scans). */
  def createViews(spark: SparkSession, prefix: String = "graft_"): Unit = {
    nodes.createOrReplaceTempView(s"${prefix}nodes")
    edges.createOrReplaceTempView(s"${prefix}edges")
    indexes.createOrReplaceTempView(s"${prefix}indexes")
    undirected.createOrReplaceTempView(s"${prefix}adjacency")
    graft.functions.Registry.registerAll(spark)
  }

  def degrees: DataFrame = Algorithms.degrees(edges)
  def pageRank(iters: Int = 10): DataFrame = Algorithms.pageRank(undirected, iters)
  def connectedComponents(): DataFrame = Algorithms.connectedComponents(undirected)
  def triangles(): DataFrame = Algorithms.triangleCount(undirected)
}

object EGraph {

  /** The demo graph over the test tables (customers ⋈ suppliers). */
  def fromTables(spark: SparkSession, dir: String): EGraph =
    new EGraph(
      GraphBuilder.nodes(spark, dir),
      GraphBuilder.edges(spark, dir),
      graft.index.TypedIndexes.build(spark, dir))

  /** Re-open a graph persisted by sources.GraphStore. One epoch read
    * resolves all three tables, so the instance is a consistent
    * snapshot even while a streaming ingest commits concurrently. */
  def fromStore(spark: SparkSession, root: String): EGraph = {
    val (nodes, edges, indexes) =
      graft.sources.GraphStore.loadSnapshot(spark, root)
    new EGraph(nodes, edges, indexes)
  }
}
