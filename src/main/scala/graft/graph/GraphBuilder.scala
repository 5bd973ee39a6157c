package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Materialize._
import graft.util.Memos

/** Builds the property graph (nodes + links) from the raw tables.
  *
  * Mirrors the reference's data model — nodes are JSON documents
  * addressed by `xxhash64(key_data)` and links are
  * (source, destination, details) rows — re-expressed as two
  * DataFrames (reference: `models/egraph_detail_model.erl`,
  * `models/egraph_link_model.erl`,
  * `sql/egraph_table_creation.sql:168-198`).
  *
  * Node identity uses Spark's built-in `xxhash64`, the same hash
  * family the reference uses for `key_data → id`
  * (`src/egraph_util.erl`, `src/egraph_shard_util.erl`). At 100 TB
  * the id doubles as the shuffle/bucket key, exactly like the
  * reference's "last 11 bits of source" shard routing.
  */
object GraphBuilder {

  /** Customer + supplier nodes: (key_data, id, details-JSON).
    *
    * `details` carries only exactly-representable JSON scalars
    * (strings / ints / decimal(12,2)) so the rendered text is
    * byte-identical across engines.
    */
  private def custDetails(cust: DataFrame): DataFrame = cust.select(
    concat(lit("c:"), col("c_custkey").cast("string")).as("key_data"),
    to_json(struct(
      col("c_name").as("name"),
      col("c_nationkey").as("nationkey"),
      col("c_acctbal").cast("decimal(12,2)").cast("string").as("acctbal"),
      col("c_mktsegment").as("mktsegment"))).as("details"))

  private def suppDetails(supp: DataFrame): DataFrame = supp.select(
    concat(lit("s:"), col("s_suppkey").cast("string")).as("key_data"),
    to_json(struct(
      col("s_name").as("name"),
      col("s_nationkey").as("nationkey"),
      col("s_acctbal").cast("decimal(12,2)").cast("string").as("acctbal"))).as("details"))

  def nodes(s: SparkSession, dir: String): DataFrame =
    custDetails(Tables.customer(s, dir))
      .unionByName(suppDetails(Tables.supplier(s, dir)))
      .withColumn("id", xxhash64(col("key_data")))

  /** Point lookup on the derived node frame with the key predicate
    * inverted onto the base table's native key column, so it reaches
    * the scan as a pushed filter — filtering the computed
    * `concat('c:', custkey)` key is a full scan at 100 TB. (The
    * stored path, GraphStore.nodeByKey, prunes by shard partition on
    * a file-regime version and filters driver-resident rows on a
    * small one.) */
  def nodeByKey(s: SparkSession, dir: String, key: String): DataFrame = {
    // invert only keys that round-trip exactly: "c:007" must NOT
    // match custkey 7 (its canonical key is "c:7"), and all-digit
    // strings beyond Long range must not throw — both fall back to
    // the literal key_data filter, which correctly returns nothing
    val base = key.split(":", 2) match {
      case Array("c", Parsed(n)) =>
        custDetails(Tables.customer(s, dir).filter(col("c_custkey") === n))
      case Array("s", Parsed(n)) =>
        suppDetails(Tables.supplier(s, dir).filter(col("s_suppkey") === n))
      case _ => nodes(s, dir).filter(col("key_data") === key).drop("id")
    }
    base.withColumn("id", xxhash64(col("key_data")))
  }

  private object Parsed {
    def unapply(n: String): Option[Long] =
      scala.util.Try(n.toLong).toOption.filter(_.toString == n)
  }

  /** Customer→supplier links derived from orders ⋈ lineitem, with
    * per-pair aggregates as the link details. The orderkey join is
    * the only shuffle; the group-by runs on the join's output
    * partitioning via partial (map-side) aggregation.
    */
  def edges(s: SparkSession, dir: String): DataFrame =
    edgeCache((s, dir))(Memos.markStable(
      Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_quantity"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(
          concat(lit("c:"), col("o_custkey").cast("string")).as("src_key"),
          concat(lit("s:"), col("l_suppkey").cast("string")).as("dst_key"))
        .agg(count(lit(1)).as("n_items"),
          // quantities are exact 2-dp decimals: decimal accumulation is
          // exact, the final cast to double is correctly rounded — so
          // the link details hash identically in any oracle engine
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .materialize()))

  // the adjacency is a materialized artifact (GraphStore persists it
  // in production); memoizing the built frame per (session, dir)
  // keeps the many graph queries from re-running the orders⋈lineitem
  // build. Keyed by the immutable input directory. GraphStore's
  // frames come from its own relation cache instead, keyed by a
  // marked (never rewritten) version dir and its _SUCCESS mtime, so a
  // new version or a rewritten store is a new frame instance.
  // bounded so a long-lived multi-store service cannot accumulate
  // checkpointed frames (and pinned SparkSessions) without limit.
  // Eviction only DROPS the reference — never unpersist: these are
  // localCheckpoint roots, and derived cached plans (e.g. the a-keyed
  // copies built from them) recompute THROUGH the checkpoint if their
  // own blocks fall out; unpersisting the root would make that
  // recompute impossible. Dropped frames are reclaimed by the
  // ContextCleaner once no derived plan references them.
  private val edgeCache =
    new Memos.Memo[(SparkSession, String), DataFrame](16, derived = false)
  private val undirectedCache =
    new Memos.Memo[DataFrame, Undirected](16, derived = false)

  /** A memoized undirected adjacency and its unit-weighted `(a, b, w)`
    * projection, one instance of each per edges frame: the weighted
    * verbs then find the projection's held adjacency on a repeated
    * call, as the unweighted verbs find the adjacency's. */
  private final class Undirected(val und: DataFrame) {
    lazy val unitWeighted: DataFrame = und.withColumn("w", lit(1.0))
  }

  private def undirectedEntry(edges: DataFrame): Undirected =
    undirectedCache(edges)(new Undirected(
      Memos.markStable(undirected(edges).materialize())))

  /** Memoized undirected adjacency of the demo graph for `dir`. */
  def undirectedFor(s: SparkSession, dir: String): DataFrame =
    undirectedOf(edges(s, dir))

  /** [[undirectedFor]] with a unit weight `w` on every row, one frame
    * instance per memoized adjacency. */
  def unitWeightedFor(s: SparkSession, dir: String): DataFrame =
    undirectedEntry(edges(s, dir)).unitWeighted

  /** Checkpointed [[undirected]] adjacency of an edge frame, memoized
    * per [[Memos.markStable]] frame instance (the demo graph's per-dir
    * edges, a GraphStore edges version) and itself stable, so its
    * [[aKeyed]] copy is memoized too. One-shot frames get a fresh
    * checkpoint per call. */
  def undirectedOf(edges: DataFrame): DataFrame =
    if (!Memos.isStable(edges)) undirected(edges).materialize()
    else undirectedEntry(edges).und

  /** Undirected, deduplicated (a, b) adjacency — both directions
    * materialized, like the reference's two-rows-per-bidirectional-link
    * convention (`sql/egraph_table_creation.sql:183` comment). */
  def undirected(edges: DataFrame): DataFrame = {
    val ab = edges.select(col("src_key").as("a"), col("dst_key").as("b"))
    ab.unionByName(ab.select(col("b").as("a"), col("a").as("b"))).distinct()
  }

  /** Memoized a-keyed copy of an edge frame: hash-partitioned on the
    * round-join key `a` and checkpointed ONCE per frame instance.
    * Every iterative operator (PageRank, connected components,
    * k-core, the Brandes shuffle regime, weighted SSSP) needs the
    * adjacency pre-partitioned on `a` so its rounds never re-exchange
    * the big side — but doing `repartition(a).materialize()` inside
    * each operator re-shuffled and re-wrote the 2|E| frame once PER
    * OPERATOR against the same memoized adjacency (~5 copies of the
    * big side in a full bench pass, each a block-manager write).
    * Keyed by frame instance like the triangle/ball/LPA artifacts;
    * eviction drops only the reference (these are checkpoint roots —
    * see the edgeCache note above).
    *
    * Mutable-source caveat (the edgeCache rule applies here too): the
    * memo pins the FIRST call's snapshot for the frame instance's
    * cache lifetime. A long-lived service holding one frame over
    * storage that gets overwritten must hand a fresh frame per read
    * point — the dir-keyed query-path caches read immutable input
    * dirs, and GraphStore hands out one frame per marked version (a
    * commit or a rewritten store is a new instance; expiry-bearing
    * tables get a fresh, unregistered frame per read).
    * The build is an EAGER shuffle+checkpoint, built once per key
    * under the memo's per-key lock.
    *
    * Memoization applies only to [[Memos.markStable]]-registered frames —
    * the instances the dir-keyed caches (and long-lived services)
    * hand out repeatedly. One-shot frames route around the memo via
    * [[withAKeyed]]; memoizing them pinned dead 2|E| checkpoints in
    * the LRU until churn evicted them (r10 ADVICE). */
  def aKeyed(edges: DataFrame): DataFrame =
    aKeyedCache(edges)(edges.repartition(col("a")).materialize())

  /** Scoped a-keyed adjacency — THE entry point for the iterative
    * operators. Stable (registered) frames read the shared memoized
    * checkpoint; one-shot frames get a `persist`ed (NOT checkpointed)
    * repartitioned copy that is unpersisted when `body` returns.
    *
    * Why persist for the scratch path: unpersist after `body` must
    * be safe even if the caller's returned frame is still lazy —
    * persist keeps lineage, so a late action merely recomputes the
    * repartition (correct, just slower), where unpersisting a
    * localCheckpoint root would crash it. Every consumer in this
    * library materializes its own round state, so in practice the
    * scratch copy is never re-read after `body`; the blocks are
    * freed immediately instead of waiting out 16 LRU misses. */
  def withAKeyed[T](edges: DataFrame)(body: DataFrame => T): T =
    if (Memos.isStable(edges)) body(aKeyed(edges))
    else {
      val scratch = edges.repartition(col("a"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body(scratch) finally scratch.unpersist(blocking = false)
    }

  private val aKeyedCache = new Memos.Memo[DataFrame, DataFrame](16, derived = true)

  /** Test hook: the memo must not grow on one-shot inputs. */
  private[graft] def aKeyedCacheSize: Int = aKeyedCache.size
}
