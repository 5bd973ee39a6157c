package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite with SparkFixture {

  private lazy val docs = Tables.documents(spark, sfDir).cache()

  test("minhash LSH near-dups: full precision, high recall vs exact") {
    val t = docs.select(col("doc_id"), Dedup.tokenSet(col("text")).as("toks"))
    val exact = t.as("x").join(t.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        round(Dedup.jaccard(col("x.toks"), col("y.toks")), 4).as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified candidates must satisfy the threshold")
    val recall = lsh.size.toDouble / exact.size.max(1)
    assert(recall >= 0.8, s"recall $recall (lsh=${lsh.size}, exact=${exact.size})")
  }

  test("fuzzy decontamination flags a planted paraphrase, not an innocent") {
    import spark.implicits._
    // replicate assignSplit's routing on the driver to pick ids on
    // the right side of the split boundary
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2)
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    val ids = (1L to 60L)
    val trainId = ids.find(splitOf(_) == "train").get
    val evalIds = ids.filter(splitOf(_) != "train")
    val (leakId, innocentId) = (evalIds.head, evalIds(1))
    val base = (1 to 20).map(i => s"tok$i")
    // paraphrase: one token replaced AND reordered — token-set
    // Jaccard 19/21 ≈ 0.905, but shared 8-grams: none (reordering)
    val leak = (base.updated(4, "reworded").reverse).mkString(" ")
    val innocent = (100 to 119).map(i => s"other$i").mkString(" ")
    val filler = ids.filterNot(Set(trainId, leakId, innocentId))
      .map(i => (i, (0 to 15).map(j => s"f${i}_$j").mkString(" ")))
    val df = (filler :+ (trainId, base.mkString(" ")) :+
      (leakId, leak) :+ (innocentId, innocent)).toDF("doc_id", "text")
    val got = Dedup.crossSplitContaminationFuzzy(df, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.contains(leakId), s"paraphrased leak not flagged: $got")
    assert(got(leakId)._1 == 1L && got(leakId)._2 == 0.9048, got(leakId))
    assert(!got.contains(innocentId), s"innocent doc flagged: $got")
    // the exact 8-gram check MISSES this reordered paraphrase — the
    // two operators are complements, not substitutes
    val exact = Dedup.crossSplitContamination(df, "doc_id", "text", n = 8)
      .collect().map(_.getLong(0)).toSet
    assert(!exact.contains(leakId),
      "reordered paraphrase unexpectedly shares an 8-gram")
  }

  test("simhash is order-invariant and hamming bound holds") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),
      (3L, "totally different words here entirely")).toDF("doc_id", "text")
    val sims = df.select(col("doc_id"), Dedup.simhash64(Dedup.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L), "bag-of-words simhash must ignore order")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
      .agg(max("hamming"), min("hamming")).head()
    assert(pairs.getInt(0) <= 8)
  }

  test("word n-grams: count, order sensitivity, short-doc edge") {
    import spark.implicits._
    val df = Seq("a b c d e", "e d c b a", "a b").toDF("t")
      .select(col("t"), Dedup.ngrams(Dedup.tokens(col("t")), 3).as("g"))
    val rows = df.collect()
    // 5 tokens -> 3 trigrams; permutation shares none of them
    assert(rows(0).getSeq[String](1) == Seq("a b c", "b c d", "c d e"))
    assert(rows(1).getSeq[String](1).intersect(rows(0).getSeq[String](1)).isEmpty)
    // shorter than n: one truncated gram (concat_ws drops the nulls)
    assert(rows(2).getSeq[String](1) == Seq("a b"))
    // jaccard of identical gram sets is 1, disjoint is 0
    val j = df.limit(2).agg(collect_list(col("g"))).head().getSeq[Seq[String]](0)
    assert(j.head.toSet.intersect(j(1).toSet).isEmpty)
  }

  test("pair resolution clusters transitively with min-id keepers") {
    import spark.implicits._
    // a≈b, b≈c (one cluster via transitivity), d≈e (another)
    val pairs = Seq(("b", "a"), ("b", "c"), ("d", "e")).toDF("a", "b")
    val expected = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d")
    val got = Dedup.resolveClusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expected)
    // the distributed fallback (driverLimit = 0) agrees exactly, in
    // both connected-components regimes
    def dist() = Dedup.resolveClusters(pairs, driverLimit = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist() == expected)
    assert(inRounds(dist()) == expected)
    // numeric ids keep numeric keeper order (2 beats 10; a string
    // cast would lexicographically elect "10")
    val numPairs = Seq((10L, 2L), (10L, 30L)).toDF("a", "b")
    for (lim <- Seq(10L, 0L)) {
      val m = Dedup.resolveClusters(numPairs, driverLimit = lim)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == Map(2L -> 2L, 10L -> 2L, 30L -> 2L), s"limit $lim: $m")
    }
    // self-pairs emit their node on both paths
    val selfPair = Seq(("x", "x")).toDF("a", "b")
    for (lim <- Seq(10L, 0L)) {
      val m = Dedup.resolveClusters(selfPair, driverLimit = lim)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(m == Map("x" -> "x"), s"limit $lim: $m")
    }
    // end to end: minhash pairs from the corpus resolve into
    // clusters whose members all point at their smallest id
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
    val clusters = Dedup.resolveClusters(mh).cache()
    assert(clusters.filter(col("keeper") > col("node")).count() == 0)
    assert(clusters.select("keeper").distinct().count() <
      clusters.count())
  }

  test("exact groups partition the corpus") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.agg(sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("cdc chunks cover every token and survive an early edit") {
    import spark.implicits._
    val a = (1 to 200).map(i => s"w$i").mkString(" ")
    val b = "zz " + a // front insertion
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, "doc_id", "text").collect()
    // chunks tile the doc exactly: token counts sum to doc length
    val cover = ch.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getAs[Number](3).longValue).sum).toMap
    assert(cover == Map(1L -> 200L, 2L -> 201L))
    // content-defined boundaries: the insertion perturbs only the
    // leading chunk(s); later chunk fingerprints are shared (under
    // fixed-size chunking EVERY chunk after the edit would change)
    val fpsA = ch.filter(_.getLong(0) == 1).map(_.getString(2)).toSet
    val fpsB = ch.filter(_.getLong(0) == 2).map(_.getString(2)).toSet
    assert((fpsA intersect fpsB).size >= fpsA.size - 2,
      s"expected near-total chunk reuse, got ${fpsA.size} vs shared ${(fpsA intersect fpsB).size}")
  }

  test("duplicate spans: cross-doc runs merge into maximal islands") {
    import spark.implicits._
    val c = (0 until 10).map(i => s"c$i").mkString(" ")  // shared run 1
    val e = (0 until 10).map(i => s"e$i").mkString(" ")  // shared run 2
    val docs = Seq(
      (1L, s"a0 a1 a2 a3 a4 $c a5 a6 a7"),               // c at pos 5..14
      (2L, s"$c b0 b1 b2 b3 b4 b5 $e"),                  // c at 0..9, e at 16..25
      (3L, s"x0 x1 $e x2")                               // e at 2..11
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", n = 8)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a 10-token shared run covers 8-gram starts [s, s+2] → span [s, s+9]
    assert(spans.toSeq == Seq(
      (1L, 5L, 14L, 10L),
      (2L, 0L, 9L, 10L), (2L, 16L, 25L, 10L),  // two islands: gap 10..15
      (3L, 2L, 11L, 10L)))
    // within-doc repetition alone is NOT a cross-doc duplicate
    val selfRep = Seq((1L, ("r0 r1 r2 r3 r4 r5 r6 r7 " * 2).trim),
        (2L, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(selfRep, "doc_id", "text", n = 8).count() == 0)
  }

  test("k-pass minhash recalls every planted near-dup") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // 60 base docs of ~60 distinct tokens; 40 planted near-dups with
    // two tokens swapped (J ≈ 0.93 — P(candidate) ≈ 1 at r=5/b=6).
    // Deterministic seed: this is a fixed corpus, not a flaky draw.
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map(i => (i.toLong,
      Seq.fill(70)("w" + rnd.nextInt(5000)).distinct.take(60)
        .mkString(" ")))
    val dups = base.take(40).map { case (id, t) =>
      (id + 1000L, t.split(" ").dropRight(2).mkString(" ") + s" x$id y$id")
    }
    val docs = (base ++ dups).toDF("doc_id", "text").localCheckpoint()
    val planted = (0 until 40).map(i => (i.toLong, i + 1000L)).toSet
    def found(df: DataFrame) = df.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val classic = found(
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8))
    assert(planted.subsetOf(classic), s"classic missed ${planted -- classic}")
    // precision is exact (verification is exact Jaccard): every found
    // pair really clears the threshold
    assert(classic == found(Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.8)), "classic is deterministic")
  }
}
