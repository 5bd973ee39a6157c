package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.EGraph
import graft.sources.{DocumentIngest, GraphStore, StreamingIngest}
import graft.sources.DocumentIngest.IndexSpec

class ApiSpec extends AnyFunSuite with SparkFixture {

  private val store = "/tmp/graft-test-store"

  test("json ingestion: nodes, typed indexes with lowercase variants, links") {
    import spark.implicits._
    // country documents shaped like the reference README examples
    val docs = Seq(
      ("india", """{"name":"India","capital":"New Delhi","economy":{"currency":"INR"},"geography":{"water_percent":9.6}}"""),
      ("usa", """{"name":"USA","capital":"Washington","economy":{"currency":"USD"},"geography":{"water_percent":6.97}}"""),
      ("japan", """{"name":"Japan","capital":"Tokyo","economy":{"currency":"JPY"},"geography":{"water_percent":3.55}}"""))
      .toDF("key", "doc")
    val nodes = DocumentIngest.nodes(docs, "key", "doc")
    assert(nodes.count() == 3 &&
      nodes.select("id").distinct().count() == 3)
    val ix = DocumentIngest.indexes(nodes, Seq(
      IndexSpec("currency", "text", Seq("economy", "currency")),
      IndexSpec("capital", "text", Seq("capital"), lowercase = true),
      IndexSpec("water_percent", "double", Seq("geography", "water_percent"))))
    // README's probe: currency=INR → india; capital_lc__=tokyo → japan
    assert(ix.filter(col("index_name") === "currency" &&
      col("key_str") === "INR").select("node_key")
      .collect().map(_.getString(0)).toSeq == Seq("india"))
    assert(ix.filter(col("index_name") === "capital_lc__" &&
      col("key_str") === "tokyo").select("node_key")
      .collect().map(_.getString(0)).toSeq == Seq("japan"))
    // range probe on the double index: [1.0, 50.0] covers all three
    assert(ix.filter(col("index_name") === "water_percent" &&
      col("key_str").try_cast("double").between(1.0, 50.0)).count() == 3)
    val links = DocumentIngest.links(
      Seq(("india", "usa", """{"yearly_tourists":1100000}"""))
        .toDF("source", "destination", "details"),
      "source", "destination", "details", bidirectional = true)
    assert(links.count() == 2)
  }

  test("graph store roundtrips and prunes partitions on probes") {
    val g = EGraph.fromTables(spark, sfDir)
    GraphStore.saveNodes(g.nodes, store)
    GraphStore.saveEdges(g.edges, store)
    GraphStore.saveIndexes(g.indexes, store)
    val re = EGraph.fromStore(spark, store)
    assert(re.nodes.count() == g.nodes.count())
    assert(re.edges.count() == g.edges.count())
    // the plan assertions read the file regime (a resident version
    // has no parquet scan); the resident leg below returns the same rows
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val fileRows = inFileRegime {
      // index probe prunes to one (index_name, key_type) directory
      val probe = GraphStore.probeStored(spark, store, "mktsegment", "text",
        "BUILDING")
      val scan = probe.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") &&
        scan.contains("index_name"), scan)
      assert(probe.count() ==
        g.indexLookup("mktsegment", "text", "BUILDING").count())
      // node point-lookup prunes on the shard partition
      val one = GraphStore.nodeByKey(spark, store, "c:1")
      assert(one.count() == 1)
      // numeric range probe: pushed native predicate on key_num
      val rng = GraphStore.probeStoredRange(spark, store, "acctbal", "double",
        0.0, 5000.0)
      val rngPlan = rng.queryExecution.executedPlan.toString
      assert(rngPlan.contains("PushedFilters") &&
        rngPlan.contains("GreaterThanOrEqual(key_num,0.0)"), rngPlan)
      assert(rng.count() ==
        graft.index.TypedIndexes.probeRangeDouble(g.indexes, "acctbal",
          0.0, 5000.0).count())
      Seq(probe, one, rng).map(rows)
    }
    val resident = Seq(
      GraphStore.probeStored(spark, store, "mktsegment", "text", "BUILDING"),
      GraphStore.nodeByKey(spark, store, "c:1"),
      GraphStore.probeStoredRange(spark, store, "acctbal", "double", 0.0, 5000.0))
    resident.foreach(df => assert(
      df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      df.queryExecution.executedPlan))
    assert(resident.map(rows) == fileRows)
  }

  test("upsert/delete semantics: latest wins, indexes follow incrementally") {
    import spark.implicits._
    val docs = Seq(
      ("india", """{"capital":"New Delhi"}"""),
      ("usa", """{"capital":"Washington"}"""))
      .toDF("key", "doc")
    val specs = Seq(IndexSpec("capital", "text", Seq("capital")))
    val nodes = DocumentIngest.nodes(docs, "key", "doc")
    val ix = DocumentIngest.indexes(nodes, specs)
    // update india's capital, insert japan
    val updates = DocumentIngest.nodes(Seq(
      ("india", """{"capital":"Delhi"}"""),
      ("japan", """{"capital":"Tokyo"}""")).toDF("key", "doc"), "key", "doc")
    val merged = DocumentIngest.upsertNodes(nodes, updates)
    assert(merged.count() == 3)
    assert(merged.filter(col("key_data") === "india")
      .select("details").head().getString(0).contains("\"Delhi\""))
    val ix2 = DocumentIngest.upsertIndexes(ix, updates, specs)
    assert(ix2.filter(col("key_str") === "Delhi").count() == 1 &&
      ix2.filter(col("key_str") === "New Delhi").count() == 0 &&
      ix2.filter(col("key_str") === "Tokyo").count() == 1)
    // incremental reindex equals a full rebuild
    val full = DocumentIngest.indexes(merged, specs)
    assert(ix2.unionByName(full).distinct().count() == full.count())
    val afterDelete = DocumentIngest.deleteNodes(merged,
      Seq("usa").toDF("key_data"))
    assert(afterDelete.count() == 2 &&
      afterDelete.filter(col("key_data") === "usa").count() == 0)
  }

  test("runtime-defined stored functions inline into query plans") {
    import spark.implicits._
    import graft.functions.Registry
    Registry.define(spark, "user_margin", Seq("price", "disc"),
      "price * (1.0 - disc) - price * 0.07")
    val df = Seq((100.0, 0.1), (50.0, 0.0)).toDF("p", "d")
    val got = df.selectExpr("round(user_margin(p, d), 4) AS m")
      .orderBy("m").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(46.5, 83.0))
    // the function body inlines: no UDF node in the optimized plan
    val plan = df.selectExpr("user_margin(p, d) AS m")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("udf"), plan)
    // redefinition replaces the previous body, like the reference's
    // function update path
    Registry.define(spark, "user_margin", Seq("price", "disc"),
      "price * (1.0 - disc)")
    assert(df.selectExpr("user_margin(p, d) AS m").orderBy("m")
      .collect().map(_.getDouble(0)).toSeq == Seq(50.0, 90.0))
  }

  test("closure-defined stored functions cover loops a SQL body cannot") {
    import spark.implicits._
    import graft.functions.Registry
    // the reference compiles FULL function sources (loops, state) —
    // the closure path is graft's equivalent for that boundary:
    // Collatz step count needs a while loop, inexpressible in a
    // single SQL expression
    Registry.defineClosure[Long, Int](spark, "user_collatz", { n0 =>
      var (n, steps) = (n0, 0)
      while (n != 1) { n = if (n % 2 == 0) n / 2 else 3 * n + 1; steps += 1 }
      steps
    })
    val got = Seq(1L, 6L, 27L).toDF("n")
      .selectExpr("user_collatz(n) AS s").orderBy("s")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 8, 111))
    // and the two-arg form composes with SQL callers
    Registry.defineClosure2[Long, Long, Long](spark, "user_gcd", { (a, b) =>
      var (x, y) = (a, b)
      while (y != 0) { val t = x % y; x = y; y = t }
      x
    })
    assert(spark.sql("SELECT user_gcd(54, 24) AS g").head().getLong(0) == 6L)
  }

  test("row expiry and version GC: expired rows vanish, pinned epochs survive") {
    import spark.implicits._
    val root = "/tmp/graft-test-ttl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val live = Seq(("k1", "d1", 1L)).toDF("key_data", "details", "id")
    val dead = GraphStore.withExpiry( // ttl already elapsed
      Seq(("k2", "d2", 2L)).toDF("key_data", "details", "id"), -10L)
    val v1 = GraphStore.saveNodes(
      live.unionByName(dead, allowMissingColumns = true), root)
    // lazy expiry on read: k2 is stored but invisible
    assert(GraphStore.loadNodes(spark, root)
      .select("key_data").as[String].collect().toSeq == Seq("k1"))
    // compaction physically drops it (read the new version raw)
    val vc = GraphStore.compactExpiredNodes(spark, root)
    assert(spark.read.parquet(s"$root/nodes/$vc").count() == 1)
    // version GC: pin v1 in the epoch, stack more saves on top
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v1))
    val vs = (1 to 3).map(_ => GraphStore.saveNodes(live, root,
      publish = false))
    GraphStore.gcVersions(spark, root, retentionMs = 0L)
    def exists(v: String) =
      new java.io.File(s"$root/nodes/$v").isDirectory
    // the pinned version and the 2 newest survive zero retention
    assert(exists(v1), "epoch-pinned version was collected")
    assert(vs.takeRight(2).forall(exists), "a newest-2 version was collected")
    // something older and unpinned actually went away (vc or vs.head)
    assert(Seq(vc, vs.head).exists(v => !exists(v)),
      "GC at zero retention collected nothing")
    // and a reader through the epoch still resolves the pinned v1
    assert(GraphStore.loadNodes(spark, root)
      .select("key_data").as[String].collect().toSet == Set("k1"))
  }

  test("versioned store: crashed writes are invisible, prior state survives") {
    import spark.implicits._
    val root = "/tmp/graft-test-versioned"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val v1 = Seq(("k1", "d1", 1L)).toDF("key_data", "details", "id")
    GraphStore.saveNodes(v1, root)
    val v2 = Seq(("k1", "d1", 1L), ("k2", "d2", 2L))
      .toDF("key_data", "details", "id")
    GraphStore.saveNodes(v2, root)
    assert(GraphStore.loadNodes(spark, root).count() == 2)
    // a writer that died mid-save: newer version dir, no _SUCCESS —
    // readers must keep resolving the last complete version
    val bogus = new java.io.File(s"$root/nodes/v9999999999999-9999")
    assert(bogus.mkdirs())
    assert(GraphStore.loadNodes(spark, root).count() == 2)
    // both complete versions retained (prior state never deleted
    // before the new one is durable)
    val versions = new java.io.File(s"$root/nodes").listFiles()
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
    assert(versions.length == 2, versions.mkString(","))
    // epoch pinning: readers stay on the committed version even
    // after a newer unpublished save lands
    val pinned = versions.map(_.getName).min // the v1 save
    GraphStore.commitEpoch(spark, root, Map("nodes" -> pinned))
    assert(GraphStore.loadNodes(spark, root).count() == 1)
    val v3 = Seq(("k1", "d1", 1L), ("k2", "d2", 2L), ("k3", "d3", 3L))
      .toDF("key_data", "details", "id")
    val v3name = GraphStore.saveNodes(v3, root, publish = false)
    assert(GraphStore.loadNodes(spark, root).count() == 1) // still pinned
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v3name))
    assert(GraphStore.loadNodes(spark, root).count() == 3)
    // a default save against an epoch-bearing root publishes itself
    // (a stale pin must not silently hide batch writes)
    val v4 = Seq(("k9", "d9", 9L)).toDF("key_data", "details", "id")
    GraphStore.saveNodes(v4, root)
    assert(GraphStore.loadNodes(spark, root).count() == 1 &&
      GraphStore.loadNodes(spark, root).head().getString(0) == "k9")
  }

  test("hasTable visibility contract: only provably-complete layouts") {
    import spark.implicits._
    val root = "/tmp/graft-test-hastable"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    assert(!GraphStore.hasTable(spark, root, "nodes"))
    // versioned save → visible
    GraphStore.saveNodes(Seq(("k1", "d1", 1L))
      .toDF("key_data", "details", "id"), root)
    assert(GraphStore.hasTable(spark, root, "nodes"))
    // plain pre-versioning layout WITH _SUCCESS → visible
    val plain = s"$root/edges"
    Seq((1L, 2L, "{}")).toDF("src", "dst", "details")
      .coalesce(1).write.parquet(plain)
    assert(GraphStore.hasTable(spark, root, "edges"))
    // unmarked parquet (hand-placed / markers disabled / torn write)
    // → ABSENT by contract: without a marker a partial directory is
    // indistinguishable from a complete one, and accepting it would
    // launder a crashed half-write into the next committed epoch
    assert(new java.io.File(plain, "_SUCCESS").delete())
    assert(!GraphStore.hasTable(spark, root, "edges"))
    // the load path enforces the same contract, not just hasTable
    intercept[IllegalArgumentException] {
      GraphStore.loadEdges(spark, root)
    }
    // PARTITIONED plain layout: Spark places _SUCCESS at the table
    // root even when data files live under partition subdirs — the
    // contract's root-marker check must see it
    val part = s"$root/indexes"
    Seq(("n", "text", "k", 1L))
      .toDF("index_name", "key_type", "key_str", "node_key")
      .write.partitionBy("index_name", "key_type").parquet(part)
    assert(GraphStore.hasTable(spark, root, "indexes"))
  }

  test("reference query.json runs verbatim against ingested documents") {
    import spark.implicits._
    // the README's countries, ingested with the README's indexes
    val docs = Seq(
      ("india", """{"name":"India","capital":"New Delhi","religions":["Hinduism","Islam"],"economy":{"currency":"INR"},"geography":{"water_percent":9.6}}"""),
      ("usa", """{"name":"USA","capital":"Washington","economy":{"currency":"USD"},"geography":{"water_percent":6.97}}"""),
      ("japan", """{"name":"Japan","capital":"Tokyo","economy":{"currency":"JPY"},"geography":{"water_percent":3.55}}"""))
      .toDF("key", "doc")
    val nodes = DocumentIngest.nodes(docs, "key", "doc")
    val ix = DocumentIngest.indexes(nodes, Seq(
      IndexSpec("currency", "text", Seq("economy", "currency")),
      IndexSpec("capital", "text", Seq("capital"), lowercase = true),
      IndexSpec("water_percent", "double", Seq("geography", "water_percent"))))
    // the README's query.json, verbatim (capital_lc__ is the
    // lowercase-variant name DocumentIngest derives)
    val queryJson = """
    {"query": {"type": "index",
      "conditions": {
        "any": [
          {"key": "INR", "key_type": "text", "index_name": "currency"},
          {"key": "tokyo", "key_type": "text", "index_name": "capital_lc__"},
          {"key": [1.0, 50.0], "key_type": "double", "index_name": "water_percent"}],
        "filters": [
          {"key": "India", "key_type": "text", "index_json_path": ["details", "name"]},
          {"key": 9.6, "key_type": "double", "index_json_path": ["details", "geography", "water_percent"]},
          {"key": [0.6, 10.2], "key_type": "double", "index_json_path": ["details", "geography", "water_percent"]}]},
      "selected_paths": {
        "name": ["details", "name"],
        "religions": ["details", "religions"],
        "water_percent": ["details", "geography", "water_percent"]}}}
    """
    val g = new graft.api.EGraph(nodes, spark.emptyDataFrame, ix)
    val res = g.search(queryJson).collect()
    assert(res.length == 1)
    val row = res.head
    assert(row.getAs[String]("key_data") == "india")
    assert(row.getAs[String]("name") == "India")
    assert(row.getAs[String]("water_percent") == "9.6")
    assert(row.getAs[String]("religions").contains("Hinduism"))
    // without the name filter, the any-probes cover all three countries
    val anyOnly = """
    {"query": {"conditions": {"any": [
      {"key": [1.0, 50.0], "key_type": "double", "index_name": "water_percent"}]}}}
    """
    assert(g.search(anyOnly).count() == 3)
  }

  test("streaming ingest: micro-batches upsert the store, indexes stay consistent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = "/tmp/graft-test-stream-store"
    val ckpt = "/tmp/graft-test-stream-ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val specs = Seq(IndexSpec("capital", "text", Seq("capital")))
    val ms = MemoryStream[(String, String, Timestamp)]
    val stream = ms.toDF().toDF("key", "doc", "ts")
    def runOnce(): Unit = {
      val q = StreamingIngest.start(stream, "key", "doc", "ts", specs,
        root, ckpt, availableNow = true)
      q.awaitTermination()
    }
    // batch 1: two docs, one key written twice (last version wins)
    ms.addData(
      ("india", """{"capital":"Calcutta"}""", Timestamp.valueOf("2020-01-01 00:00:00")),
      ("india", """{"capital":"New Delhi"}""", Timestamp.valueOf("2020-01-02 00:00:00")),
      ("usa", """{"capital":"Washington"}""", Timestamp.valueOf("2020-01-01 00:00:00")))
    runOnce()
    val n1 = GraphStore.loadNodes(spark, root)
    assert(n1.count() == 2)
    assert(n1.filter(col("key_data") === "india").select("details")
      .head().getString(0).contains("New Delhi"))
    // batch 2: update india, insert japan; indexes must follow
    ms.addData(
      ("india", """{"capital":"Delhi"}""", Timestamp.valueOf("2020-02-01 00:00:00")),
      ("japan", """{"capital":"Tokyo"}""", Timestamp.valueOf("2020-02-01 00:00:00")))
    runOnce()
    val n2 = GraphStore.loadNodes(spark, root)
    assert(n2.count() == 3)
    val ix = GraphStore.loadIndexes(spark, root)
    assert(ix.filter(col("key_str") === "Delhi").count() == 1 &&
      ix.filter(col("key_str") === "New Delhi").count() == 0 &&
      ix.filter(col("key_str") === "Tokyo").count() == 1)
    // store probe still prunes and agrees with the nodes frame
    assert(GraphStore.probeStored(spark, root, "capital", "text", "Tokyo")
      .head().getString(0) == "japan")
  }

  test("facade verbs match the underlying operators") {
    val g = EGraph.fromTables(spark, sfDir)
    assert(g.node("c:1").count() == 1)
    // rawhex addressing: id → same node, hex round-trips
    val id = g.node("c:1").select("id").head().getLong(0)
    assert(g.nodeById(id).select("key_data").head().getString(0) == "c:1")
    assert(g.nodeByHex(java.lang.Long.toHexString(id))
      .select("key_data").head().getString(0) == "c:1")
    assert(g.linksFrom("c:1").count() > 0)
    val n2 = g.neighbors("c:1", 2)
    assert(n2.filter(col("depth") === 2).count() > 0)
    val nd = g.neighborsWithDetails("c:1", 1)
    assert(nd.count() == g.neighbors("c:1", 1).count() &&
      nd.filter(col("details").isNull).count() == 0)
    val p = g.path("c:1", "s:5").orderBy("step").collect()
    assert(p.head.getString(1) == "c:1" && p.last.getString(1) == "s:5")
  }

  test("createViews exposes the same frames and functions to pure SQL") {
    val g = graft.api.EGraph.fromTables(spark, sfDir)
    g.createViews(spark)
    // a SQL point lookup equals the facade verb
    val viaSql = spark.sql(
      "SELECT details FROM graft_nodes WHERE key_data = 'c:1'")
      .head().getString(0)
    assert(viaSql == g.node("c:1").select("details").head().getString(0))
    // SQL joins over the adjacency view work and see all edges
    val deg = spark.sql(
      """SELECT a, count(*) AS d FROM graft_adjacency
         WHERE a = 'c:1' GROUP BY a""").head().getLong(1)
    assert(deg == g.linksFrom("c:1").count())
    // native graft functions are callable from SQL after the call
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))")
      .head().getDouble(0)
    assert(dot == 11.0)
  }
}
