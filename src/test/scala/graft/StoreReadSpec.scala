package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.EGraph
import graft.graph.GraphBuilder
import graft.sources.GraphStore

/** GraphStore's read path: one cached relation per marked version,
  * one memoized adjacency per stored edges version, and the
  * visibility rules both must keep. */
class StoreReadSpec extends AnyFunSuite with SparkFixture {

  private def fresh(name: String): String = {
    val root = s"/tmp/graft-test-$name"
    FileUtils.deleteQuietly(new File(root))
    root
  }

  private def nodesOf(keys: String*): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, s"d-$k", k.hashCode.toLong)).toDF("key_data", "details", "id")
  }

  private def keys(df: DataFrame): Set[String] =
    df.select("key_data").collect().map(_.getString(0)).toSet

  /** Spark jobs started while `f` runs. The listener bus is FIFO:
    * once a marked barrier job's start arrives, every job `f` started
    * has been counted. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val barrier = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.barrier") != null))
          barrier.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      f
      sc.setLocalProperty("graft.test.barrier", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.barrier", null)
      assert(barrier.await(30, TimeUnit.SECONDS), "barrier job never observed")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  /** The sf graph persisted under one epoch. */
  private def storeOf(g: EGraph, root: String): Unit =
    GraphStore.commitEpoch(spark, root, Map(
      "nodes" -> GraphStore.saveNodes(g.nodes, root),
      "edges" -> GraphStore.saveEdges(g.edges, root),
      "indexes" -> GraphStore.saveIndexes(g.indexes, root)))

  test("a second read of one stored version starts no Spark job before its action") {
    val root = fresh("read-jobs")
    GraphStore.commitEpoch(spark, root,
      Map("nodes" -> GraphStore.saveNodes(nodesOf("k1"), root)))
    // the instrument sees the first read's schema inference
    assert(jobsDuring(GraphStore.loadNodes(spark, root)) >= 1)
    var second: DataFrame = null
    assert(jobsDuring { second = GraphStore.loadNodes(spark, root) } == 0)
    assert(jobsDuring(GraphStore.nodeByKey(spark, root, "k1")) == 0)
    assert(second eq GraphStore.loadNodes(spark, root),
      "one relation per marked version")
    assert(keys(second) == Set("k1"))
  }

  test("the first read after commitEpoch returns the new version; " +
      "unmarked version dirs stay invisible") {
    val root = fresh("read-commit")
    val v1 = GraphStore.saveNodes(nodesOf("k1"), root)
    // no epoch yet: the newest marked version
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"))
    // a crashed writer's newer dir: data, no _SUCCESS
    val torn = GraphStore.saveNodes(nodesOf("k1", "x"), root, publish = false)
    assert(new File(s"$root/nodes/$torn/_SUCCESS").delete())
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"))
    // an epoch naming it falls back to the newest marked version too
    GraphStore.commitEpoch(spark, root, Map("nodes" -> torn))
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"))
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v1))
    val v2 = GraphStore.saveNodes(nodesOf("k1", "k2"), root, publish = false)
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"), "still pinned")
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v2))
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1", "k2"))
  }

  test("a root deleted and rewritten at the same path is read fresh") {
    val root = fresh("read-rewrite")
    val v = GraphStore.saveNodes(nodesOf("k1"), root)
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v))
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"))
    // same root, same version name, other files: only the marker's
    // mtime tells the two apart
    val src = fresh("read-rewrite-src")
    val w = GraphStore.saveNodes(nodesOf("k2", "k3"), src)
    FileUtils.deleteDirectory(new File(root))
    FileUtils.moveDirectory(new File(s"$src/nodes/$w"), new File(s"$root/nodes/$v"))
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v))
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k2", "k3"))
  }

  test("a row expiring between two reads of one cached version is gone on the second") {
    val root = fresh("read-expiry")
    val soon = GraphStore.withExpiry(nodesOf("k2"), 2L)
    val v = GraphStore.saveNodes(
      nodesOf("k1").unionByName(soon, allowMissingColumns = true), root)
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v))
    val first = GraphStore.loadNodes(spark, root)
    assert(keys(first) == Set("k1", "k2"))
    val expiresMs = soon.select("expires_at_us").head().getLong(0) / 1000L
    Thread.sleep(math.max(0L, expiresMs - System.currentTimeMillis()) + 200L)
    var second: DataFrame = null
    // the relation under the expiry filter is the cached one ...
    assert(jobsDuring { second = GraphStore.loadNodes(spark, root) } == 0)
    // ... but the filtered frame is fresh per read
    assert(!(second eq first))
    assert(keys(second) == Set("k1"))
  }

  test("store-loaded graphs share one adjacency per edges version") {
    import spark.implicits._
    val root = fresh("adj-memo")
    storeOf(EGraph.fromTables(spark, sfDir), root)
    graft.util.Memos.resetDerived()
    val before = GraphBuilder.aKeyedCacheSize
    val g1 = EGraph.fromStore(spark, root)
    val hop1 = g1.neighbors("c:1", 1).collect().map(_.getString(0)).toSet
    g1.neighbors("c:1", 2).collect()
    // a nodes-only commit: the reopened graph reads the new nodes and
    // the edges version's adjacency
    GraphStore.commitEpoch(spark, root, Map("nodes" -> GraphStore.saveNodes(
      g1.nodes.drop("shard").filter(col("key_data") =!= "c:2"), root,
      publish = false)))
    val g2 = EGraph.fromStore(spark, root)
    assert(g2.node("c:2").isEmpty && !g1.node("c:2").isEmpty)
    assert(g2.neighbors("c:1", 1).collect().map(_.getString(0)).toSet == hop1)
    assert(GraphBuilder.aKeyedCacheSize == before + 1,
      "two traversals and a reopen over one edges version build one a-keyed copy")
    // an edges commit: new edges, no stale adjacency
    val extra = Seq(("c:1", "s:new", 1L, 1.0))
      .toDF("src_key", "dst_key", "n_items", "sum_qty")
    GraphStore.commitEpoch(spark, root, Map("edges" -> GraphStore.saveEdges(
      g2.edges.drop("shard").unionByName(extra), root, publish = false)))
    val g3 = EGraph.fromStore(spark, root)
    assert(g3.neighbors("c:1", 1).collect().map(_.getString(0)).toSet == hop1 + "s:new")
    assert(g3.path("c:1", "s:new").orderBy("step").collect()
      .map(_.getAs[String]("node")).toSeq == Seq("c:1", "s:new"))
    assert(!g2.neighbors("c:1", 1).collect().map(_.getString(0)).contains("s:new"),
      "an open snapshot keeps its own edges version")
    assert(GraphBuilder.aKeyedCacheSize == before + 2)
    // a one-shot edges frame still adds no entry
    val oneShot = new EGraph(g3.nodes, g3.edges.select("src_key", "dst_key"), g3.indexes)
    assert(oneShot.neighbors("c:1", 1).count() == hop1.size + 1)
    assert(GraphBuilder.aKeyedCacheSize == before + 2)
  }

  test("indexRange: a store-loaded graph filters key_num and matches the table-built one") {
    val root = fresh("index-range")
    val g = EGraph.fromTables(spark, sfDir)
    storeOf(g, root)
    val s = EGraph.fromStore(spark, root)
    def rows(df: DataFrame) = df.collect().map(_.getString(0)).sorted.toSeq
    for ((name, typ, lo, hi) <- Seq(("acctbal", "double", 0.0, 5000.0),
        ("nationkey", "int", 3.0, 7.0))) {
      val stored = s.indexRange(name, typ, lo, hi)
      val plan = stored.queryExecution.executedPlan.toString
      assert(plan.contains(s"GreaterThanOrEqual(key_num,$lo)"), plan)
      val want = rows(g.indexRange(name, typ, lo, hi))
      assert(want.nonEmpty && rows(stored) == want, name)
    }
  }
}
