package graft

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.api.EGraph
import graft.graph.{Algorithms, GraphBuilder}
import graft.search.QueryJson
import graft.sources.{DocumentIngest, GraphStore}

/** GraphStore's read path: one cached form per marked version (rows
  * held on the driver when small, a file relation otherwise), one
  * memoized adjacency per stored edges version, and the visibility
  * rules both must keep. */
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

  /** Nodes whose ids are their keys' xxhash64, as GraphBuilder makes
    * them: the shard nodeByKey computes from a key is the stored one. */
  private def hashedNodesOf(keys: String*): DataFrame =
    nodesOf(keys: _*).withColumn("id", xxhash64(col("key_data")))

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def keys(df: DataFrame): Set[String] =
    df.select("key_data").collect().map(_.getString(0)).toSet

  /** The gate's measure: a version's data files, as Spark lists them. */
  private def dataBytes(versionDir: String): Long =
    FileUtils.listFiles(new File(versionDir), null, true)
      .toArray(Array.empty[File]).filterNot(f => f.getName.startsWith("_") ||
        f.getName.startsWith(".")).map(_.length).sum

  /** A version as a process other than this session would leave it:
    * moving its marker's mtime keys it apart from the entry the save
    * seeded, so its first read lists and collects the files. */
  private def unseeded(root: String, table: String, v: String): String = {
    val marker = new File(s"$root/$table/$v/_SUCCESS")
    assert(marker.setLastModified(marker.lastModified() + 5000L))
    v
  }

  /** The sf graph persisted under one epoch. */
  private def storeOf(g: EGraph, root: String): Unit =
    GraphStore.commitEpoch(spark, root, Map(
      "nodes" -> GraphStore.saveNodes(g.nodes, root),
      "edges" -> GraphStore.saveEdges(g.edges, root),
      "indexes" -> GraphStore.saveIndexes(g.indexes, root)))

  /** Runs `body` on a fresh root once per regime: resident (the
    * fixture's versions are within the gate), then file. */
  private def inBothRegimes(name: String)(body: (String, String) => Unit): Unit = {
    body(fresh(name), "LocalTableScan")
    inFileRegime(body(fresh(s"$name-file"), "FileScan"))
  }

  test("a second read of one stored version starts no Spark job before its action") {
    inBothRegimes("read-jobs") { (root, scan) =>
      GraphStore.commitEpoch(spark, root,
        Map("nodes" -> unseeded(root, "nodes", GraphStore.saveNodes(nodesOf("k1"), root))))
      // the instrument sees the first read's schema inference
      assert(jobsDuring(GraphStore.loadNodes(spark, root)) >= 1)
      var second: DataFrame = null
      assert(jobsDuring { second = GraphStore.loadNodes(spark, root) } == 0)
      assert(jobsDuring(GraphStore.nodeByKey(spark, root, "k1")) == 0)
      assert(second eq GraphStore.loadNodes(spark, root),
        "one relation per marked version")
      assert(plan(second).contains(scan), plan(second))
      assert(keys(second) == Set("k1"))
    }
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
    def expiring(root: String, resident: Boolean): Unit = {
      val soon = GraphStore.withExpiry(nodesOf("k2"), 2L)
      val v = GraphStore.saveNodes(
        nodesOf("k1").unionByName(soon, allowMissingColumns = true), root)
      GraphStore.commitEpoch(spark, root, Map("nodes" -> v))
      val first = GraphStore.loadNodes(spark, root)
      assert(plan(first).contains("LocalTableScan") == resident, plan(first))
      assert(keys(first) == Set("k1", "k2"))
      val expiresMs = soon.select("expires_at_us").head().getLong(0) / 1000L
      Thread.sleep(math.max(0L, expiresMs - System.currentTimeMillis()) + 200L)
      var second: DataFrame = null
      // the form under the expiry filter is the cached one ...
      assert(jobsDuring { second = GraphStore.loadNodes(spark, root) } == 0)
      // ... but the filtered frame is fresh per read
      assert(!(second eq first))
      assert(keys(second) == Set("k1"))
    }
    expiring(fresh("read-expiry"), resident = true)
    inFileRegime(expiring(fresh("read-expiry-file"), resident = false))
  }

  test("store-loaded graphs share one adjacency per edges version") {
    // the traversals walk the held CSR adjacency below the ceiling
    // and the rounds' a-keyed copy past it: the same reads in both,
    // with each regime's sharing checked on its own adjacency
    inBothRegimes("adj-memo")(sharedAdjacency(rounds = false))
    inBothRegimes("adj-memo-rounds")((root, scan) =>
      inRounds(sharedAdjacency(rounds = true)(root, scan)))
  }

  test("a repeated traversal of a store-loaded graph runs no Spark job") {
    val root = fresh("traverse-jobs")
    storeOf(EGraph.fromTables(spark, sfDir), root)
    val g = EGraph.fromStore(spark, root)
    val far = g.neighbors("c:1", 2).filter(col("depth") === 2)
      .orderBy("node").head().getString(0)
    def levels(e: EGraph) = e.neighbors("c:1", 2).collect().map(_.toString).sorted.toSeq
    def path(e: EGraph) = e.path("c:1", far).collect().map(_.toString).toSeq
    val (lv, p) = (levels(g), path(g))
    assert(p.length == 3, p)
    var again = (Seq.empty[String], Seq.empty[String])
    assert(jobsDuring { again = (levels(g), path(g)) } == 0)
    assert(again == ((lv, p)))
    // a reopened snapshot over the same edges version shares the
    // adjacency, its row count included
    val g2 = EGraph.fromStore(spark, root)
    assert(jobsDuring { again = (levels(g2), path(g2)) } == 0)
    assert(again == ((lv, p)))
    // a ceiling below the held row count sends the next call to the rounds
    val rows = GraphBuilder.undirectedOf(g.edges).count()
    spark.conf.set("graft.graph.broadcastEdges", (rows - 1).toString)
    try assert(jobsDuring { again = (levels(g), path(g)) } > 0)
    finally spark.conf.unset("graft.graph.broadcastEdges")
    assert(again == ((lv, p)))
  }

  test("a second broadcast verb over one frame runs no gate count") {
    val und = GraphBuilder.undirected(GraphBuilder.edges(spark, sfDir)).localCheckpoint()
    val cores = Algorithms.kCore(und).collect().map(_.toString).sorted.toSeq
    var second: DataFrame = null
    // the kernel's frame is a local relation: with the count held in
    // the adjacency's entry, building it starts no job
    assert(jobsDuring { second = Algorithms.kCore(und) } == 0)
    assert(second.collect().map(_.toString).sorted.toSeq == cores)
    // with the entry held, each whole-graph kernel builds and collects
    // its result with no job at all
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((name, verb) <- Seq[(String, () => DataFrame)](
        "pageRank" -> (() => Algorithms.pageRank(und)),
        "connectedComponents" -> (() => Algorithms.connectedComponents(und)),
        "kCore" -> (() => Algorithms.kCore(und)),
        "labelPropagation" -> (() => Algorithms.labelPropagation(und)))) {
      var got = Seq.empty[String]
      assert(jobsDuring { got = rows(verb()) } == 0, name)
      assert(got.nonEmpty && got == rows(verb()), name)
    }
    // betweenness keeps the jobs of its node set, seeds and (v, δ)
    // aggregation; its sweeps run none (a job of one task per seed
    // made it 9)
    var bc = Seq.empty[String]
    assert(jobsDuring { bc = rows(Algorithms.betweenness(und)) } == 8)
    assert(bc == inRounds(rows(Algorithms.betweenness(und))))
    spark.conf.set("graft.graph.broadcastEdges", (und.count() - 1).toString)
    try assert(jobsDuring { second = Algorithms.kCore(und) } > 0, "the rounds run eagerly")
    finally spark.conf.unset("graft.graph.broadcastEdges")
    assert(second.collect().map(_.toString).sorted.toSeq == cores)
  }

  test("a repeated weighted shortest-paths query builds no new adjacency") {
    val sssp = EgraphQueries.queries("g_sssp_weighted")
    val first = sssp(spark, sfDir).collect().toSeq
    var second: DataFrame = null
    // the unit-weighted frame is one instance per memoized adjacency,
    // so the second call finds its held adjacency and row count
    assert(jobsDuring { second = sssp(spark, sfDir) } == 0)
    assert(second.collect().toSeq == first)
    assert(GraphBuilder.unitWeightedFor(spark, sfDir) eq
      GraphBuilder.unitWeightedFor(spark, sfDir))
  }

  private def sharedAdjacency(rounds: Boolean)(root: String, scan: String): Unit = {
    import spark.implicits._
    storeOf(EGraph.fromTables(spark, sfDir), root)
    graft.util.Memos.resetDerived()
    val before = GraphBuilder.aKeyedCacheSize
    // the a-keyed copies built since `before`: the rounds' adjacency,
    // which the kernels never build
    def aKeyedCopies(n: Int, clue: String) =
      assert(GraphBuilder.aKeyedCacheSize == before + (if (rounds) n else 0), clue)
    val g1 = EGraph.fromStore(spark, root)
    assert(plan(g1.edges).contains(scan), plan(g1.edges))
    val hop1 = g1.neighbors("c:1", 1).collect().map(_.getString(0)).toSet
    g1.neighbors("c:1", 2).collect()
    // a nodes-only commit: the reopened graph reads the new nodes and
    // the edges version's adjacency
    GraphStore.commitEpoch(spark, root, Map("nodes" -> GraphStore.saveNodes(
      g1.nodes.drop("shard").filter(col("key_data") =!= "c:2"), root,
      publish = false)))
    val g2 = EGraph.fromStore(spark, root)
    assert(g2.node("c:2").isEmpty && !g1.node("c:2").isEmpty)
    var reopened = (Set.empty[String], 0)
    val jobs = jobsDuring { reopened = (
      g2.neighbors("c:1", 1).collect().map(_.getString(0)).toSet,
      g2.path("c:1", (hop1 - "c:1").min).collect().length) }
    assert(reopened == ((hop1, 2)))
    if (!rounds) assert(jobs == 0,
      "a reopen over one edges version walks the broadcast adjacency the first graph built")
    aKeyedCopies(1, "two traversals and a reopen over one edges version build one a-keyed copy")
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
    aKeyedCopies(2, "an edges commit builds a new adjacency")
    // a one-shot edges frame still adds no entry
    val oneShot = new EGraph(g3.nodes, g3.edges.select("src_key", "dst_key"), g3.indexes)
    assert(oneShot.neighbors("c:1", 1).count() == hop1.size + 1)
    aKeyedCopies(2, "a one-shot edges frame adds no a-keyed copy")
  }

  test("indexRange: a store-loaded graph filters key_num and matches the table-built one") {
    val root = fresh("index-range")
    val g = EGraph.fromTables(spark, sfDir)
    storeOf(g, root)
    def rows(df: DataFrame) = df.collect().map(_.getString(0)).sorted.toSeq
    for ((name, typ, lo, hi) <- Seq(("acctbal", "double", 0.0, 5000.0),
        ("nationkey", "int", 3.0, 7.0))) {
      val want = rows(g.indexRange(name, typ, lo, hi))
      // the scan's pushed filter exists in the file regime only
      inFileRegime {
        val stored = EGraph.fromStore(spark, root).indexRange(name, typ, lo, hi)
        val plan = stored.queryExecution.executedPlan.toString
        assert(plan.contains(s"GreaterThanOrEqual(key_num,$lo)"), plan)
        assert(want.nonEmpty && rows(stored) == want, name)
      }
      // the resident version returns the same rows
      assert(rows(EGraph.fromStore(spark, root).indexRange(name, typ, lo, hi)) == want,
        name)
    }
  }

  test("resident and file versions return identical rows and schemas") {
    val root = fresh("regimes")
    val g = EGraph.fromTables(spark, sfDir)
    storeOf(g, root)
    val src = "c:1"
    val dst = g.linksFrom(src).orderBy("dst_key").head().getAs[String]("dst_key")
    val far = g.neighbors(src, 2).filter(col("depth") === 2)
      .orderBy("node").head().getString(0)
    val q = """{"query":{"type":"index","conditions":{"any":[""" +
      """{"key":[0,5000],"key_type":"double","index_name":"acctbal"},""" +
      """{"key":3,"key_type":"int","index_name":"nationkey"}],""" +
      """"filters":[{"key":"BUILDING","key_type":"text",""" +
      """"index_json_path":["details","mktsegment"]}]},""" +
      """"selected_paths":{"name":["details","name"],""" +
      """"acctbal":["details","acctbal"]}}}"""
    def reads(): Seq[(String, DataFrame)] = {
      val s = EGraph.fromStore(spark, root)
      Seq(
        "nodeByKey" -> GraphStore.nodeByKey(spark, root, src),
        "probeStored" -> GraphStore.probeStored(spark, root, "mktsegment", "text", "BUILDING"),
        "probeStoredRange" ->
          GraphStore.probeStoredRange(spark, root, "acctbal", "double", 0.0, 5000.0),
        "linksFrom" -> s.linksFrom(src),
        "link" -> s.link(src, dst),
        "neighbors" -> s.neighbors(src, 2),
        "path" -> s.path(src, far),
        "QueryJson" -> QueryJson.run(s.nodes, s.indexes, q))
    }
    // the reads whose plans are one filtered version
    val direct = Set("nodeByKey", "probeStored", "probeStoredRange", "linksFrom", "link")
    def run(scan: String) = reads().map { case (n, df) =>
      if (direct(n)) assert(plan(df).contains(scan), n)
      n -> (df.schema, df.collect().map(_.toString).sorted.toSeq)
    }
    val file = inFileRegime(run("FileScan"))
    val resident = run("LocalTableScan")
    file.zip(resident).foreach { case ((n, f), (_, r)) =>
      assert(f._2.nonEmpty, n)
      assert(r == f, n)
    }
  }

  /** Held rows a frame's plan reads: a resident read through its key
    * index holds only the candidate rows, a filter holds the version. */
  private def heldRows(df: DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().collect {
      case r: LocalRelation => r.data.size
    }.sum

  private def rowsOf(df: DataFrame): (StructType, Seq[String]) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  /** A store whose rows meet every edge of the key indexes: absent,
    * null and duplicate keys, "NaN", ±Infinity, −0.0 against 0.0, a
    * non-numeric numeric key and a null index name. */
  private def edgeCaseStore(root: String): Unit = {
    import spark.implicits._
    val nodes = Seq(("c:1", "A", "one"), ("c:2", "A", "two"), ("c:3", "B", "three"),
      ("c:4", "A", "four"), ("s:1", "B", "sup"))
      .map { case (k, seg, name) => (k, s"""{"seg":"$seg","name":"$name"}""") }
      .toDF("key_data", "details").withColumn("id", xxhash64(col("key_data")))
    val edges = Seq[(String, String, Long, Double)](("c:1", "s:1", 1L, 1.0),
      ("c:1", "s:1", 2L, 2.0), ("c:1", "s:2", 1L, 1.5), ("c:2", "s:1", 3L, 3.0),
      (null, "s:1", 1L, 1.0)).toDF("src_key", "dst_key", "n_items", "sum_qty")
    val indexes = Seq[(String, String, String, String)](
      ("c:1", "bal", "double", "0.0"), ("c:2", "bal", "double", "-0.0"),
      ("c:3", "bal", "double", "NaN"), ("c:4", "bal", "double", "Infinity"),
      ("s:1", "bal", "double", "-Infinity"), ("c:1", "bal", "double", "5"),
      ("c:2", "bal", "double", "10"), ("c:3", "bal", "double", null),
      ("c:4", "bal", "double", "abc"), ("c:1", "n", "int", "3"),
      ("c:2", "n", "int", "3"), ("c:3", "n", "int", "4"),
      ("c:1", "seg", "text", "A"), ("c:2", "seg", "text", "A"),
      ("c:3", "seg", "text", "B"), ("c:4", "seg", "text", null),
      ("c:1", "seg", "text", "NaN"), ("c:4", null, "text", "A"),
      ("c:2", "day", "date", "2024-01-05"), ("c:3", "day", "date", "2024-02-01"))
      .toDF("node_key", "index_name", "key_type", "key_str")
    GraphStore.commitEpoch(spark, root, Map(
      "nodes" -> GraphStore.saveNodes(nodes, root),
      "edges" -> GraphStore.saveEdges(edges, root),
      "indexes" -> GraphStore.saveIndexes(indexes, root)))
  }

  private def queryOf(any: String, filters: String = "", selected: String = "") =
    s"""{"query":{"type":"index","conditions":{"any":[$any]""" +
      (if (filters.isEmpty) "" else s""","filters":[$filters]""") + "}" +
      (if (selected.isEmpty) "" else s""","selected_paths":{$selected}""") + "}}"

  test("key-indexed reads return the rows and schema of the file regime and of the filter") {
    val root = fresh("indexed-regimes")
    edgeCaseStore(root)
    val ranges = Seq((0.0, 0.0), (-0.0, -0.0), (0.0, 10.0), (5.0, 10.0), (10.0, 5.0),
      (Double.NegativeInfinity, Double.PositiveInfinity), (Double.NaN, Double.NaN),
      (Double.NegativeInfinity, Double.NaN), (6.0, 7.0))
    val text = Seq("A", "B", "NaN", "absent")
    val indexed = Seq(
      queryOf("""{"key":[0,5],"key_type":"double","index_name":"bal"},""" +
        """{"key":3,"key_type":"int","index_name":"n"}""",
        """{"key":"A","key_type":"text","index_json_path":["details","seg"]}""",
        """"name":["details","name"]"""),
      queryOf("""{"key":"A","key_type":"text","index_name":"seg"}"""),
      queryOf("""{"key":-0.0,"key_type":"double","index_name":"bal"}"""),
      queryOf("""{"key":[10,5],"key_type":"double","index_name":"bal"}"""),
      queryOf("""{"key":"absent","key_type":"text","index_name":"seg"}"""))
    // the index cannot answer these exactly: they take the semi-join
    val fallback = Seq(
      queryOf("""{"key":["2024-01-01","2024-01-31"],"key_type":"date","index_name":"day"}"""),
      queryOf("""{"key":["A","B"],"key_type":"text","index_name":"seg"}"""))
    /** Every read once; `viaIndex = false` reads the same resident
      * rows through copies of the frames, which no index serves, with
      * the store probes' own predicates. */
    def reads(viaIndex: Boolean): Seq[(String, Boolean, DataFrame)] = {
      val s = EGraph.fromStore(spark, root)
      val g = if (viaIndex) s else new EGraph(s.nodes.toDF(), s.edges.toDF(), s.indexes.toDF())
      def store(name: String, probe: => DataFrame, filter: DataFrame => DataFrame) =
        (name, true, if (viaIndex) probe else filter(g.indexes))
      Seq("c:1", "s:1", "absent").flatMap(k => Seq(
        ("nodeByKey " + k, true, if (viaIndex) GraphStore.nodeByKey(spark, root, k)
          else g.nodes.filter(col("shard") === graft.index.Sharding.shardOfKey(lit(k), 6) &&
            col("key_data") === k)),
        ("node " + k, true, g.node(k)),
        ("linksFrom " + k, true, g.linksFrom(k)),
        ("link " + k, true, g.link(k, "s:1")))) ++
      text.flatMap(k => Seq(
        store("probeStored " + k, GraphStore.probeStored(spark, root, "seg", "text", k),
          _.filter(col("index_name") === "seg" && col("key_type") === "text" &&
            col("key_str") === k).select("node_key")),
        ("indexLookup " + k, true, g.indexLookup("seg", "text", k)))) ++
      ranges.flatMap { case (lo, hi) => Seq(
        store(s"probeStoredRange [$lo, $hi]",
          GraphStore.probeStoredRange(spark, root, "bal", "double", lo, hi),
          _.filter(col("index_name") === "bal" && col("key_type") === "double" &&
            col("key_num").between(lo, hi))
            .select(col("node_key"), col("key_num").as("key_val"))),
        (s"indexRange [$lo, $hi]", true, g.indexRange("bal", "double", lo, hi)))
      } ++
      indexed.map(q => ("QueryJson " + q, true, QueryJson.run(g.nodes, g.indexes, q))) ++
      fallback.map(q => ("QueryJson " + q, false, QueryJson.run(g.nodes, g.indexes, q)))
    }
    val file = inFileRegime(reads(viaIndex = true).map { case (n, _, df) => n -> rowsOf(df) })
    val filter = reads(viaIndex = false)
    val index = reads(viaIndex = true)
    assert(index.map(_._3).forall(df => plan(df).contains("LocalTableScan")))
    file.lazyZip(filter).lazyZip(index).foreach {
      case ((n, f), (_, _, byFilter), (_, served, byIndex)) =>
        assert(rowsOf(byFilter) == f, s"$n: filter")
        assert(rowsOf(byIndex) == f, s"$n: index")
        if (served) assert(heldRows(byIndex) < heldRows(byFilter), s"$n reads its key index")
        else assert(heldRows(byIndex) == heldRows(byFilter), s"$n falls back")
    }
    // the edge cases the rows must show
    def keysOf(n: String) = file.toMap.apply(n)._2
    assert(keysOf("probeStoredRange [-0.0, -0.0]").size == 2, "−0.0 and 0.0 are one key")
    assert(keysOf("probeStoredRange [NaN, NaN]") == Seq("[c:3,NaN]"))
    assert(keysOf("probeStoredRange [10.0, 5.0]").isEmpty)
    assert(keysOf("probeStoredRange [5.0, 10.0]").size == 2, "bounds are inclusive")
    assert(keysOf("linksFrom c:1").size == 3, "duplicate src_key rows all return")
  }

  test("a TTL store's reads fall back to the filter and still hide expired rows") {
    import spark.implicits._
    val root = fresh("indexed-ttl")
    val live = Seq(("k1", """{"seg":"A"}""")).toDF("key_data", "details")
    val gone = GraphStore.withExpiry(
      Seq(("k2", """{"seg":"A"}""")).toDF("key_data", "details"), -60L)
    val nodes = live.unionByName(gone, allowMissingColumns = true)
      .withColumn("id", xxhash64(col("key_data")))
    val indexes = Seq(("k1", "seg", "text", "A"), ("k2", "seg", "text", "A"))
      .toDF("node_key", "index_name", "key_type", "key_str")
    val edges = Seq(("k1", "k2")).toDF("src_key", "dst_key")
    GraphStore.commitEpoch(spark, root, Map(
      "nodes" -> GraphStore.saveNodes(nodes, root),
      "edges" -> GraphStore.saveEdges(edges, root),
      "indexes" -> GraphStore.saveIndexes(indexes, root)))
    val g = EGraph.fromStore(spark, root)
    assert(plan(g.nodes).contains("LocalTableScan"), plan(g.nodes))
    val held = heldRows(g.nodes)
    val q = queryOf("""{"key":"A","key_type":"text","index_name":"seg"}""")
    for (df <- Seq(g.node("k1"), g.node("k2"), GraphStore.nodeByKey(spark, root, "k2"),
        QueryJson.run(g.nodes, g.indexes, q)))
      assert(heldRows(df) >= held, "an expiry-filtered frame is not a held form")
    assert(keys(g.node("k1")) == Set("k1"))
    assert(g.node("k2").isEmpty && GraphStore.nodeByKey(spark, root, "k2").isEmpty)
    assert(keys(QueryJson.run(g.nodes, g.indexes, q)) == Set("k1"))
  }

  test("indexed reads of resident versions collect with no Spark job; " +
      "file versions keep their pushed filters") {
    val root = fresh("indexed-jobs")
    storeOf(EGraph.fromTables(spark, sfDir), root)
    val q = queryOf("""{"key":[0,5000],"key_type":"double","index_name":"acctbal"},""" +
      """{"key":3,"key_type":"int","index_name":"nationkey"}""",
      """{"key":"BUILDING","key_type":"text","index_json_path":["details","mktsegment"]}""",
      """"name":["details","name"]""")
    def reads(g: EGraph): Seq[(String, () => DataFrame)] = Seq(
      "QueryJson.run" -> (() => QueryJson.run(g.nodes, g.indexes, q)),
      "linksFrom" -> (() => g.linksFrom("c:1")),
      "link" -> (() => g.link("c:1", "s:1")),
      "probeStoredRange" ->
        (() => GraphStore.probeStoredRange(spark, root, "acctbal", "double", 0.0, 5000.0)))
    // the first reads collect the versions
    val g = EGraph.fromStore(spark, root)
    reads(g).foreach(_._2().collect())
    for ((n, read) <- reads(g)) {
      var rows = Array.empty[Row]
      assert(jobsDuring { rows = read().collect() } == 0, n)
      assert(rows.nonEmpty || n == "link", n)
    }
    inFileRegime {
      val f = reads(EGraph.fromStore(spark, root)).map { case (n, r) => n -> plan(r()) }.toMap
      val semi = f("QueryJson.run")
      assert(semi.contains("FileScan") && semi.contains("LeftSemi"), semi)
      assert(f("linksFrom").contains("EqualTo(src_key,c:1)"), f("linksFrom"))
      assert(f("link").contains("EqualTo(dst_key,s:1)"), f("link"))
      assert(f("probeStoredRange").contains("GreaterThanOrEqual(key_num,0.0)"),
        f("probeStoredRange"))
    }
  }

  test("a nodeByKey collect on a resident version starts no Spark job") {
    val root = fresh("resident-jobs")
    GraphStore.commitEpoch(spark, root, Map("nodes" ->
      unseeded(root, "nodes", GraphStore.saveNodes(hashedNodesOf("k1", "k2"), root))))
    // the first read collects the version
    assert(jobsDuring(GraphStore.loadNodes(spark, root)) >= 1)
    var rows: Array[Row] = null
    assert(jobsDuring { rows = GraphStore.nodeByKey(spark, root, "k1").collect() } == 0)
    assert(rows.map(_.getAs[String]("key_data")).toSeq == Seq("k1"))
  }

  test("a version above the threshold stays a file relation") {
    val root = fresh("threshold")
    val v = GraphStore.saveNodes(hashedNodesOf("k1", "k2", "k3"), root)
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v))
    val bytes = dataBytes(s"$root/nodes/$v")
    assert(bytes > 0)
    withBroadcastThreshold(bytes - 1) {
      val above = GraphStore.nodeByKey(spark, root, "k2")
      assert(plan(above).contains("FileScan"), plan(above))
      assert(keys(above) == Set("k2"))
    }
    withBroadcastThreshold(bytes) {
      val at = GraphStore.nodeByKey(spark, root, "k2")
      assert(plan(at).contains("LocalTableScan"), plan(at))
      assert(keys(at) == Set("k2"))
    }
  }

  test("a version above ResidentMaxBytes stays a file relation under any broadcast threshold") {
    import spark.implicits._
    val root = fresh("resident-cap")
    // random hex details: ~1 parquet byte per 2 characters
    val n = (GraphStore.ResidentMaxBytes / 100).toInt + 1000
    val rnd = new scala.util.Random(11)
    val big = (1 to n).map(i => (s"k$i", Seq.fill(8)(rnd.nextLong().toHexString).mkString))
      .toDF("key_data", "details").withColumn("id", xxhash64(col("key_data")))
    val v = GraphStore.saveNodes(big, root)
    GraphStore.commitEpoch(spark, root, Map("nodes" -> v))
    val bytes = dataBytes(s"$root/nodes/$v")
    assert(bytes > GraphStore.ResidentMaxBytes)
    withBroadcastThreshold(Long.MaxValue) {
      val probe = GraphStore.nodeByKey(spark, root, "k7")
      assert(plan(probe).contains("FileScan"), plan(probe))
      assert(keys(probe) == Set("k7"))
    }
  }

  test("two threads that first-read one version build it once") {
    val root = fresh("resident-race")
    GraphStore.commitEpoch(spark, root, Map("nodes" ->
      unseeded(root, "nodes", GraphStore.saveNodes(hashedNodesOf("k1", "k2"), root))))
    // the file relation (and its schema job) first, so the threads
    // race on the resident build alone
    inFileRegime(GraphStore.loadNodes(spark, root))
    val start = new CyclicBarrier(2)
    val got = new ConcurrentLinkedQueue[DataFrame]
    val builds = jobsDuring {
      val ts = Seq.fill(2)(new Thread(() => {
        start.await()
        got.add(GraphStore.loadNodes(spark, root))
      }))
      ts.foreach(_.start())
      ts.foreach(_.join())
    }
    assert(builds == 1, "one collect builds the resident version")
    val Seq(a, b) = got.toArray(Array.empty[DataFrame]).toSeq
    assert(a eq b)
    assert(keys(a) == Set("k1", "k2"))
  }

  test("nodeByKey finds every key of a store saved with another shard width") {
    val root = fresh("shard-width")
    val ks = (1 to 32).map(i => s"k$i")
    GraphStore.commitEpoch(spark, root,
      Map("nodes" -> GraphStore.saveNodes(hashedNodesOf(ks: _*), root, 3)))
    def each(): Unit = ks.foreach(k =>
      assert(keys(GraphStore.nodeByKey(spark, root, k)) == Set(k), k))
    each()
    inFileRegime(each())
  }

  /** The table's version pinned at `root` against a fresh
    * `spark.read.parquet` of its files: the same schema and rows as
    * seeded (no job when the save held its rows), and the regime
    * following the gate both ways on the version's own bytes, a
    * re-gated version rebuilding from its file relation with no job. */
  private def readsAsWritten(root: String, table: String, v: String,
      seededRows: Boolean): Unit = {
    val dir = s"$root/$table/$v"
    GraphStore.commitEpoch(spark, root, Map(table -> v))
    def load(): DataFrame = table match {
      case "nodes" => GraphStore.loadNodes(spark, root)
      case "edges" => GraphStore.loadEdges(spark, root)
      case _ => GraphStore.loadIndexes(spark, root)
    }
    val want = rowsOf(spark.read.parquet(dir))
    var got: DataFrame = null
    val jobs = jobsDuring { got = load() }
    if (seededRows) assert(jobs == 0, s"$dir: the save held its rows")
    else assert(jobs == 1, s"$dir: the save seeded its schema; the first read only collects")
    assert(plan(got).contains("LocalTableScan"), plan(got))
    assert(rowsOf(got) == want, dir)
    val bytes = dataBytes(dir)
    withBroadcastThreshold(bytes - 1) {
      var above: DataFrame = null
      assert(jobsDuring { above = load() } == 0, s"$dir: re-gated from its file relation")
      assert(plan(above).contains("FileScan"), plan(above))
      assert(rowsOf(above) == want, dir)
    }
    withBroadcastThreshold(bytes) {
      val at = load()
      assert(plan(at).contains("LocalTableScan"), plan(at))
      assert(rowsOf(at) == want, dir)
    }
    inFileRegime(assert(rowsOf(load()) == want, dir))
  }

  test("a seeded version has the schema and rows of a fresh read of its files") {
    import spark.implicits._
    val root = fresh("seeded")
    val ks = (1 to 20).map(i => s"k$i")
    for (bits <- Seq(3, 6))
      readsAsWritten(root, "nodes", GraphStore.saveNodes(hashedNodesOf(ks: _*), root, bits),
        seededRows = true)
    // a column the previous version lacked, with expiry instants
    // (one null: never expires) and a held version as a leaf
    val later = GraphStore.withExpiry(hashedNodesOf("k21"), 3600L)
      .unionByName(hashedNodesOf("k22").withColumn("expires_at_us", lit(null).cast("long")))
    readsAsWritten(root, "nodes", GraphStore.saveNodes(GraphStore.loadNodes(spark, root)
      .drop("shard").unionByName(later, allowMissingColumns = true), root, 3),
      seededRows = true)
    val edges = Seq(("k1", "k2", 1L), ("k1", "k3", 2L), ("k2", "k1", 3L), (null, "k1", 4L))
      .toDF("src_key", "dst_key", "n")
    readsAsWritten(root, "edges", GraphStore.saveEdges(edges, root, 3), seededRows = true)
    // partition values that do not read back as written: a null and
    // an empty name (both read as null), separators in a name, and
    // key_str values whose key_num is NaN, ±Infinity and −0.0
    val names = Seq[String](null, "", "a/b=c", "bal", "day")
    val indexes = names.zipWithIndex.flatMap { case (n, i) =>
      Seq("NaN", "Infinity", "-Infinity", "-0.0", "0.0", "2024-01-05", null, "x")
        .map(k => (s"k$i", n, if (n == "day") "date" else "double", k))
    }.toDF("node_key", "index_name", "key_type", "key_str")
    readsAsWritten(root, "indexes", GraphStore.saveIndexes(indexes, root), seededRows = true)
    // a numeric-looking name alone: the listing types the column int
    val numeric = Seq(("k1", "2024", "int", "7"), ("k2", "2024", "int", "8"))
      .toDF("node_key", "index_name", "key_type", "key_str")
    val v = GraphStore.saveIndexes(numeric, root)
    assert(spark.read.parquet(s"$root/indexes/$v").schema("index_name").dataType ==
      org.apache.spark.sql.types.IntegerType)
    readsAsWritten(root, "indexes", v, seededRows = true)
    // a partition column that is not a string or an integer: the save
    // seeds only the schema
    val doubles = Seq(("k1", 1.5, "text", "A"), ("k2", 2.5, "text", "B"))
      .toDF("node_key", "index_name", "key_type", "key_str")
    readsAsWritten(root, "indexes", GraphStore.saveIndexes(doubles, root), seededRows = false)
  }

  test("a reopen after a commit of local upserts runs no Spark job") {
    import spark.implicits._
    val root = fresh("write-through")
    storeOf(EGraph.fromTables(spark, sfDir), root)
    val g = EGraph.fromStore(spark, root)
    g.neighbors("c:1", 0).collect()
    val specs = Seq(DocumentIngest.IndexSpec("seg", "text", Seq("seg")))
    val updates = DocumentIngest.nodes(Seq(("c:1", """{"seg":"NEW"}"""),
      ("c:new", """{"seg":"NEW"}""")).toDF("k", "d"), "k", "d")
    val vn = GraphStore.saveNodes(DocumentIngest.upsertNodes(
      GraphStore.loadNodes(spark, root).drop("shard"), updates), root, publish = false)
    val vi = GraphStore.saveIndexes(DocumentIngest.upsertIndexes(
      GraphStore.loadIndexes(spark, root).drop("key_num"), updates, specs), root,
      publish = false)
    GraphStore.commitEpoch(spark, root, Map("nodes" -> vn, "indexes" -> vi))
    var g2: EGraph = null
    assert(jobsDuring {
      g2 = EGraph.fromStore(spark, root)
      g2.neighbors("c:1", 0).collect()
    } == 0)
    assert(plan(g2.nodes).contains("LocalTableScan") && plan(g2.indexes).contains("LocalTableScan"))
    assert(rowsOf(g2.nodes) == rowsOf(spark.read.parquet(s"$root/nodes/$vn")))
    assert(rowsOf(g2.indexes) == rowsOf(spark.read.parquet(s"$root/indexes/$vi")))
    assert(g2.node("c:1").select("details").as[String].collect().toSeq == Seq("""{"seg":"NEW"}"""))
    assert(g2.indexLookup("seg", "text", "NEW").as[String].collect().toSet == Set("c:1", "c:new"))
  }

  test("a save of a frame that reads a parquet file starts no collect job") {
    val root = fresh("file-leaf")
    val src = fresh("file-leaf-src")
    hashedNodesOf("k1", "k2", "k3").write.parquet(src)
    val scan = spark.read.parquet(src)
    val plain = jobsDuring(scan.withColumn("shard", graft.index.Sharding.shardOfId(col("id"), 6))
      .write.partitionBy("shard").parquet(fresh("file-leaf-plain")))
    var v = ""
    assert(jobsDuring { v = GraphStore.saveNodes(scan, root) } == plain,
      "the save runs the jobs of a plain partitioned write")
    readsAsWritten(root, "nodes", v, seededRows = false)
  }

  test("a save whose marker is missing seeds nothing and stays invisible") {
    val root = fresh("torn-seed")
    val v1 = GraphStore.saveNodes(hashedNodesOf("k1"), root)
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    spark.conf.set(key, "false")
    val torn = try GraphStore.saveNodes(hashedNodesOf("k1", "k2"), root)
      finally spark.conf.unset(key)
    assert(!new File(s"$root/nodes/$torn/_SUCCESS").exists())
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"))
    GraphStore.commitEpoch(spark, root, Map("nodes" -> torn))
    assert(keys(GraphStore.loadNodes(spark, root)) == Set("k1"), "an unmarked pin falls back")
    assert(GraphStore.currentEpoch(spark, root)("nodes") == torn && v1 != torn)
    // marked later, it is read from its files: the save seeded nothing
    assert(new File(s"$root/nodes/$torn/_SUCCESS").createNewFile())
    var got: DataFrame = null
    assert(jobsDuring { got = GraphStore.loadNodes(spark, root) } >= 1)
    assert(keys(got) == Set("k1", "k2"))
  }

  test("compacting a TTL store keeps its shard width") {
    import spark.implicits._
    def compacted(root: String): Unit = {
      val live = (1 to 24).map(i => s"k$i")
      val nodes = GraphStore.withExpiry(hashedNodesOf(live: _*), 3600L)
        .unionByName(GraphStore.withExpiry(hashedNodesOf("gone1", "gone2"), -60L))
      GraphStore.commitEpoch(spark, root,
        Map("nodes" -> GraphStore.saveNodes(nodes, root, 3)))
      val v = GraphStore.compactExpiredNodes(spark, root)
      assert(v.endsWith("-b3"), v)
      assert(spark.read.parquet(s"$root/nodes/$v").select("shard").distinct()
        .as[Int].collect().forall(_ < 8), "re-sharded at another width")
      live.foreach(k => assert(keys(GraphStore.nodeByKey(spark, root, k)) == Set(k), k))
      assert(GraphStore.nodeByKey(spark, root, "gone1").isEmpty)
      assert(spark.read.parquet(s"$root/nodes/$v").count() == live.size)
    }
    compacted(fresh("compact-width"))
    inFileRegime(compacted(fresh("compact-width-file")))
  }
}
