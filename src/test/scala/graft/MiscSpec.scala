package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Compression, Registry}
import graft.multimodal.Multimodal

class MiscSpec extends AnyFunSuite with SparkFixture {

  test("deflate/inflate roundtrips exactly, including unicode") {
    import spark.implicits._
    Registry.registerAll(spark)
    val df = Seq("plain ascii", "ünïcødé — 中文 🚀", "", "a" * 10000)
      .toDF("s")
    val rt = df.select(col("s"),
      Registry.inflate(Registry.deflate(col("s"))).cast("string").as("r"))
    assert(rt.filter(col("s") =!= col("r")).count() == 0)
    // repetitive payloads must actually compress
    val sizes = df.filter(length(col("s")) === 10000)
      .select(length(col("s").cast("binary")),
        length(Registry.deflate(col("s")))).head()
    assert(sizes.getInt(1) < sizes.getInt(0) / 10)
  }

  test("dictionary compression roundtrips and beats plain deflate on short blobs") {
    import spark.implicits._
    Registry.registerAll(spark)
    // short JSON-ish blobs sharing structure with the dictionary,
    // like the reference's per-dictionary detail compression
    val dict = """{"name":"","nationkey":,"acctbal":"","mktsegment":""}"""
    val df = (1 to 50).map(i =>
        s"""{"name":"Customer#$i","nationkey":$i,"acctbal":"$i.00","mktsegment":"BUILDING"}""")
      .toDF("s").withColumn("dict", lit(dict))
    val rt = df.select(col("s"),
      Registry.inflateDict(Registry.deflateDict(col("s"), col("dict")),
        col("dict")).cast("string").as("r"))
    assert(rt.filter(col("s") =!= col("r")).count() == 0)
    val sizes = df.select(
      sum(length(Registry.deflateDict(col("s"), col("dict")))).as("with_dict"),
      sum(length(Registry.deflate(col("s")))).as("plain")).head()
    assert(sizes.getLong(0) < sizes.getLong(1),
      s"dictionary should help: ${sizes.getLong(0)} vs ${sizes.getLong(1)}")
  }

  test("repeated dot products compile in one codegen projection") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.VectorExpressions.DotProductExpr
    val a = BoundReference(0, ArrayType(FloatType), nullable = true)
    val b = BoundReference(1, ArrayType(FloatType), nullable = true)
    // cosine = three dots in one projection; generate (unlike
    // UnsafeProjection.create) throws instead of silently falling
    // back to interpreted mode if the generated code won't compile
    GenerateUnsafeProjection.generate(
      Seq(DotProductExpr(a, b), DotProductExpr(a, a), DotProductExpr(b, b)))
  }

  test("unicode normalization: NFC composes, fold strips, codegen compiles") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextNormalize
    val pre = "caf\u00e9 ni\u00f1o"       // precomposed é, ñ
    val dec = java.text.Normalizer.normalize(
      pre, java.text.Normalizer.Form.NFD)  // genuinely decomposed
    assert(dec.length == pre.length + 2)
    assert(TextNormalize.nfc(UTF8String.fromString(dec)).toString == pre)
    assert(TextNormalize.fold(UTF8String.fromString(dec)).toString == "cafe nino")
    assert(TextNormalize.fold(UTF8String.fromString(pre)).toString == "cafe nino")
    // idempotent; ASCII is a fixed point
    assert(TextNormalize.nfc(UTF8String.fromString(pre)).toString == pre)
    assert(TextNormalize.fold(UTF8String.fromString("plain")).toString == "plain")
    // generate (not create) throws instead of silently interpreting
    val s = BoundReference(0, StringType, nullable = true)
    GenerateUnsafeProjection.generate(
      Seq(TextNormalize.NfcExpr(s), TextNormalize.FoldExpr(s),
        TextNormalize.FoldExpr(TextNormalize.NfcExpr(s))))
    // null-safe through the expression path
    assert(TextNormalize.NfcExpr(Literal(null, StringType)).eval() == null)
  }

  test("geo bounding box never drops in-radius rows") {
    import graft.index.TypedIndexes
    // pure haversine (no box) as ground truth, incl. antimeridian
    // and near-pole centers where the box logic has branches
    val cases = Seq((0.0, 179.9, 500.0), (0.0, -179.9, 500.0),
      (85.0, 10.0, 1500.0), (-88.0, 0.0, 800.0), (60.0, 20.0, 1000.0),
      (10.5, 20.5, 300.0))
    for ((lat0, lon0, r) <- cases) {
      val boxed = TypedIndexes.geoRadiusKm(spark, sfDir, lat0, lon0, r)
        .select("node_key").collect().map(_.getString(0)).toSet
      val truth = Tables.customer(spark, sfDir)
        .withColumn("lat", (col("c_custkey") % 180).cast("double") - 90.0 + 0.5)
        .withColumn("lon", ((col("c_custkey") * 7) % 360).cast("double") - 180.0 + 0.5)
        .filter(TypedIndexes.haversineKm(col("lat"), col("lon"),
          lit(lat0), lit(lon0)) <= r)
        .select(concat(lit("c:"), col("c_custkey").cast("string")))
        .collect().map(_.getString(0)).toSet
      assert(boxed == truth, s"($lat0,$lon0,$r): ${truth.diff(boxed).take(5)} dropped")
    }
  }

  test("haversine distance matches known city pair") {
    import spark.implicits._
    import graft.index.TypedIndexes
    // Paris (48.8566, 2.3522) to London (51.5074, -0.1278) ≈ 343.5 km
    val d = Seq((48.8566, 2.3522, 51.5074, -0.1278))
      .toDF("la1", "lo1", "la2", "lo2")
      .select(TypedIndexes.haversineKm(col("la1"), col("lo1"),
        col("la2"), col("lo2")).as("km")).head().getDouble(0)
    assert(math.abs(d - 343.5) < 1.0, s"got $d")
  }

  test("deflate bytes match java.util.zip reference") {
    val raw = "reference payload".getBytes("UTF-8")
    assert(java.util.Arrays.equals(
      Compression.inflate(Compression.deflate(raw)), raw))
  }

  test("multimodal decode plumbing: deterministic, batch-size invariant") {
    val media = Multimodal.attachMedia(Tables.documents(spark, sfDir))
    val f1 = Multimodal.decodeFeatures(media, batchSize = 1)
      .collect().map(f => f.doc_id -> f).toMap
    val f64 = Multimodal.decodeFeatures(media, batchSize = 64)
      .collect().map(f => f.doc_id -> f).toMap
    assert(f1.keySet == f64.keySet && f1.keySet.nonEmpty)
    assert(f1.forall { case (k, v) => f64(k) == v })
    val sample = f1.values.head
    assert(sample.width >= 16 && sample.width < 80)
    assert(sample.n_bytes > 0)
  }

  test("scene cuts: frame energies and delta thresholding, hand-computed") {
    import spark.implicits._
    // 3 full 256-byte frames: energies 97·256, 98·256, 122·256 —
    // deltas 0, 256 (below threshold), 6144 (cut)
    val text = "a" * 256 + "b" * 256 + "z" * 256
    val docs = Seq((1L, text), (2L, "hi")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val rows = Multimodal.sceneCuts(Multimodal.attachMedia(docs))
      .orderBy("doc_id", "frame_idx").collect()
    val d1 = rows.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getLong(2)).toSeq == Seq(97L * 256, 98L * 256, 122L * 256))
    assert(d1.map(_.getLong(3)).toSeq == Seq(0L, 256L, 24L * 256))
    assert(d1.map(_.getBoolean(4)).toSeq == Seq(false, false, true))
    // short doc: one clamped frame, frame 0 is never a cut
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getLong(2) == 'h'.toLong + 'i'.toLong
      && !d2(0).getBoolean(4))
  }

  test("phash: dHash contract — local edits flip few bits, dups collide") {
    import spark.implicits._
    val base = (0 until 244).map(i => ('a' + (i * i * 31) % 26).toChar).mkString
    val docs = Seq(
      (1L, base),
      (2L, base),                                    // exact duplicate
      (3L, base.substring(0, 100) + "zzzz" + base.substring(104)), // local edit
      (4L, base.reverse)                             // same bytes, other order
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val h = Multimodal.phash(Multimodal.attachMedia(docs))
      .collect().map(m => m.doc_id -> m.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L))
    assert(ham(h(1L), h(3L)) > 0 && ham(h(1L), h(3L)) <= 6,
      s"local edit should flip few bits, flipped ${ham(h(1L), h(3L))}")
    assert(ham(h(1L), h(4L)) > 10,
      "reordered payload is a different image")
    // banded pairs find the duplicate and the near-dup, not the reorder
    val pairs = Multimodal.phashPairs(
        Multimodal.phash(Multimodal.attachMedia(docs)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("stored function registry: revenue matches inline expression") {
    Registry.registerAll(spark)
    val li = Tables.lineitem(spark, sfDir)
    // the registered function computes in exact decimals; the inline
    // double form agrees to float tolerance, the inline decimal form
    // agrees exactly
    val exact = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(new java.math.BigDecimal("1.00")) -
        col("l_discount").cast("decimal(18,2)"))
    val diffExact = li.select(
      abs(Registry.revenue(col("l_extendedprice"), col("l_discount")) - exact)
        .cast("double").as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diffExact == 0.0)
    val diffDouble = li.select(
      abs(Registry.revenue(col("l_extendedprice"), col("l_discount"))
          .cast("double") -
        col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diffDouble < 1e-6)
  }

  test("sketch aggregates track the exact answers within their error bounds") {
    val approx = SparkEntry.queries("q11_sketch")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exact = SparkEntry.queries("q10_percentiles")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getDouble(1), r.getDouble(2)))).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, (nd, p50, p90)) <- approx) {
      val (nde, p50e, p90e) = exact(k)
      // HLL++ at rsd=0.01: allow 5% slack; accuracy=10000 quantile
      // sketch on a few thousand rows is near-exact — allow 2%
      assert(math.abs(nd - nde) <= math.max(2, 0.05 * nde), s"$k distinct $nd vs $nde")
      assert(math.abs(p50 - p50e) <= 0.02 * p50e, s"$k p50 $p50 vs $p50e")
      assert(math.abs(p90 - p90e) <= 0.02 * p90e, s"$k p90 $p90 vs $p90e")
    }
  }

  test("Memo evicts the least recent weighted entries past maxWeight") {
    val evicted = scala.collection.mutable.Buffer.empty[Int]
    val c = new graft.util.Memos.Memo[String, Int](8, derived = false,
      onEvict = (v: Int) => evicted += v,
      maxWeight = 10L, weight = (v: Int) => v.toLong)
    c("a")(4); c("zero")(0); c("b")(4)
    assert(c.get("a").contains(4)) // a is now more recent than b
    c("c")(5) // 13 > 10: b, the least recent weighted entry, goes
    assert(evicted == Seq(4) && c.get("b").isEmpty && c.size == 3)
    // an entry over the bound alone stays; every other weighted one goes
    assert(c("d")(11) == 11)
    assert(evicted.sorted == Seq(4, 4, 5) && c.get("zero").contains(0))
    // replacing a value releases its old weight
    c("d", _ == 1)(_ => 1); c("e")(9)
    assert(c.get("d").contains(1) && c.get("e").contains(9) && c.size == 3)
  }

  test("src/main builds no concurrent or ordered map outside Memos") {
    // every memo is a Memos.Memo; these maps are the non-memo uses
    // (a lease registry, a top-k operator's per-task groups, an error
    // report), each allowed by the declaration it must sit on
    import scala.jdk.CollectionConverters._
    val allowed = Map(
      "util/Memos.scala" -> "private val m = ",
      "sources/Lease.scala" -> "private val held = ",
      "plans/TopKPerKey.scala" -> "val groups = ",
      "Bench.scala" -> "val errors = ")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val map = "TrieMap|ConcurrentHashMap|LinkedHashMap".r
    val walk = java.nio.file.Files.walk(root)
    val found = try walk.iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val rel = root.relativize(p).toString
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .filter { case (l, _) => map.findFirstIn(l).nonEmpty }
          .map { case (l, i) => (rel, i + 1, l.trim) }
      }
    finally walk.close()
    val stray = found.filterNot { case (rel, _, l) =>
      allowed.get(rel).exists(l.contains) }
    assert(stray.isEmpty, stray.mkString("\n"))
    assert(found.map(_._1).toSet == allowed.keySet)
  }

  test("main entry points are exactly the documented tools") {
    // README's Entry points list these; a new scratch main fails here
    // until it is deleted or documented
    import scala.jdk.CollectionConverters._
    val documented = Set("Bench", "Verify", "Probe", "BootstrapProbe",
      "EBootstrapProbe", "StreamChaosProbe", "EmbedChaosProbe",
      "IngestChaosProbe", "PerfProbe")
    val obj = """(?m)^\s*object\s+(\w+)""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mains = try walk.iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        "def main\\(".r.findAllMatchIn(src).map(m =>
          obj.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1))
      }.toSet
    finally walk.close()
    assert(mains == documented)
  }
}
