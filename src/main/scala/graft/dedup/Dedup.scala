package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Materialize._

/** Deduplication family for document corpora (SURVEY.md §2
  * "LLM-training-data pipeline"). Everything is built from
  * codegen'd built-in higher-order functions — no UDFs — so the
  * whole pipeline stays inside WholeStageCodegen and scales by
  * partitioning alone:
  *
  *  - exact: hash-groupBy on a normalized content fingerprint;
  *  - MinHash+LSH: shingle → k minhashes → banded bucket join —
  *    the only shuffle is the band-bucket groupBy, never an n² join;
  *  - SimHash: 64-bit sign-aggregated token-hash fingerprint;
  *  - exact n-gram Jaccard for candidate-pair verification.
  */
object Dedup {

  /** Corpora up to this many documents broadcast their token sets
    * into the MinHash verification joins; above it they shuffle.
    * Sized for ~2 KB of sorted tokens per document → ≈200 MB
    * broadcast at the limit; row count is the cheap proxy (an exact
    * byte estimate would need a second pass over the text). */
  val setsBroadcastLimit = 100000L

  def tokens(text: Column): Column = split(text, " ")

  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Bag-of-words content fingerprint: md5 of the sorted distinct
    * token set. Exact dedup = groupBy on this. */
  def bowFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokenSet(text))))

  /** Exact-duplicate groups: fingerprint → (n_copies, keeper id). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(bowFingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))

  /** Word n-grams (default 3) as space-joined strings. Documents
    * shorter than n yield their single truncated gram (try_element_at:
    * under ANSI mode a plain element_at throws past the end).
    * PASS A MATERIALIZED COLUMN, not a raw `split(...)` expression:
    * the gram positions are generated by a `transform` lambda that
    * re-evaluates its captured input per element, so an inline
    * tokenizer expression is re-run ~n times per gram (measured 3.5×
    * on the decontamination pipeline). */
  def ngrams(toks: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", (0 until n).map(j => try_element_at(toks, i + j + 1)): _*)))

  /** Exact Jaccard similarity of two string sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** k MinHash values over a shingle set in one native pass (one
    * byte-hash per shingle + k long re-hashes). Map-side only. */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.functions.Registry.minhashSig(shingles, lit(k))

  /** Banded LSH bucket hashes: `b` bands of `r` signature rows each,
    * as an array of per-band bucket ids (index = band). */
  def lshBands(sig: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      j => xxhash64(concat_ws(",", slice(sig, j * r + 1, lit(r))), j))

  /** Per-document MinHash/LSH index rows — (id, sh, sz, ba): the
    * sorted xxhash64'd token set, its size, and the banded bucket
    * array. The map-side-only kernel shared by the bulk pipeline
    * ([[minhashNearDups]]) and the incremental segment store
    * (sources.DedupIndex): a document's rows depend only on its own
    * text and the (numHashes, bands) geometry, never on the rest of
    * the corpus, which is what makes batch-at-a-time indexing sound.
    * Materialized (localCheckpoint): every caller reads it at least
    * twice (band join sides / verification) and counts it for the
    * broadcast decision. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 30, bands: Int = 6): DataFrame = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    val r = numHashes / bands
    docs.select(col(idCol).as("id"),
        array_sort(transform(tokenSet(col(textCol)), t => xxhash64(t)))
          .as("sh"))
      // signature as its own column first: lshBands slices it inside
      // a per-band transform lambda, and an inline signature
      // expression would be re-hashed once per band (the ngrams
      // scaladoc documents this expression-recapture class)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"), col("sh"), size(col("sh")).as("sz"),
        lshBands(col("sig"), bands, r).as("ba"))
      .materialize()
  }

  /** The hashed-token-set frame shared by the MinHash pipeline and
    * the fuzzy decontamination check: (id, sh, gk) — the sorted
    * xxhash64'd token set and its 128-bit content key — materialized
    * once per corpus. Both operators start from exactly this pass
    * (tokenize + per-token hash + sort over every document, the
    * dominant scan of each), so a query layer can build it once and
    * hand it to [[minhashNearDups]] and
    * [[crossSplitContaminationFuzzy]] (r12 verdict #4 / guide §1.2:
    * share one extraction across the family). */
  def hashedTokenSets(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        array_sort(transform(tokenSet(col(textCol)), t => xxhash64(t)))
          .as("sh"))
      .filter(col("sh").isNotNull)
      .withColumn("gk",
        md5(concat_ws(",", transform(col("sh"), x => x.cast("string")))))
      .materialize()

  /** MinHash-LSH candidate pairs with exact-Jaccard verification.
    *
    * Shuffles: one groupBy on (band, bucket) realized as a
    * self-join, then the verification join back to the shingle
    * sets. The bucket join's fan-in is bounded by the LSH bands —
    * at 100 TB the candidate set stays ~linear in true near-dups,
    * never the n² cross product.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 30, bands: Int = 6,
      prebuiltHashed: Option[DataFrame] = None): DataFrame = {
    // Band geometry r=5/b=6: P(candidate | J=0.8) ≈ 0.91, and the
    // mid-similarity false-candidate mass (J≈0.6) drops ~2× vs
    // r=4/b=8 — candidate volume, not verification arithmetic,
    // dominates this operator's cost. (An ALLOCATING first-matching-
    // band filter — slice/zip_with per pair — benched 4× slower than
    // distinct(); the scalar when-chain below beats both.)
    // Token sets are pre-hashed to longs (Spark's builtin xxhash64 =
    // the signature expression's seed-42 base hash, so signatures are
    // bit-identical to hashing the strings): long merge walks verify
    // ~10× cheaper than string walks, and the rows flowing into the
    // verification join shrink by the same factor.
    //
    // REPS-FIRST (r11 verdict #3 — the candidate join is ≥90% of
    // wall): documents with IDENTICAL token sets have identical
    // signatures, identical buckets in every band, and J=1 to each
    // other — so the LSH pipeline runs over one REPRESENTATIVE per
    // distinct set and the verified rep pairs expand back to member
    // pairs afterwards, exactly (same rows, same j). An m-doc exact
    // clique used to cost C(m,2) joined rows PER BAND in the bucket
    // join (this corpus plants a 248-clique → 184k of its 361k
    // same-bucket pairs), and every near-dup link between two
    // cliques of sizes m₁,m₂ used to cost m₁·m₂ candidate
    // verifications for one distinct answer. Web crawls run 30-50%
    // exact dups, so at 100 TB this is the difference between
    // candidate volume tracking DISTINCT CONTENT vs raw row count —
    // the same reason production pipelines exact-dedup before fuzzy.
    // The group key is md5 of the sorted hashed set (128-bit,
    // content-derived — no 64-bit birthday risk at 10^10 docs).
    val r = numHashes / bands
    graft.functions.Registry.registerAll(docs.sparkSession)
    // materialized ONCE (r12): `members` and `reps` both derive from
    // this frame, and the lazy form re-ran the tokenize + sort +
    // per-token hash + 128-bit group-key pass over the whole corpus
    // for each (stage dissection: members 4.0 s + reps 5.6 s, both
    // dominated by the duplicated scan; one checkpointed pass serves
    // both). r13: callers that run several operators over one corpus
    // pass the frame in ([[hashedTokenSets]]) so the pass runs once
    // per corpus, not once per operator.
    val hashed = prebuiltHashed.getOrElse(
      hashedTokenSets(docs, idCol, textCol))
    // (id → group) map, read by both expansion joins (kept as its own
    // skinny checkpoint: the within-group self-join reads it twice)
    val members = hashed.select(col("id"), col("gk")).materialize()
    // one row per DISTINCT set, rep id = min — signature/banding
    // work is per distinct CONTENT from here on. Materialized: read
    // by both band-join sides, the verification join and the
    // broadcast count.
    val reps = hashed.groupBy(col("gk"))
      .agg(min(col("id")).as("id"), first(col("sh")).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("gk"), col("id"), col("sh"), size(col("sh")).as("sz"),
        lshBands(col("sig"), bands, r).as("ba"))
      .materialize()
    // emit each pair only from its FIRST matching band — a pure
    // scalar when-chain over the band arrays (no per-pair allocation,
    // unlike the slice/zip_with variant that benched 4× slower), so
    // no distinct() shuffle is needed: high-J pairs match most bands
    // and the raw join stream is ~3× the unique pair count
    val firstMatch = (1 until bands).foldLeft(
        when(col("x.band") === 0, lit(true))) { (acc, k) =>
      acc.when(col("x.band") === k,
        (0 until k).map(i => col("x.ba")(i) =!= col("y.ba")(i))
          .reduce(_ && _))
    }.otherwise(lit(false))
    def bandJoin(sigs: DataFrame) = sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      // size-ratio guard (J ≥ t ⇒ min/max sizes ≥ t): scalar-only,
      // kills impossible pairs before verification
      .filter(least(col("x.sz"), col("y.sz")).cast("double")
        / greatest(col("x.sz"), col("y.sz")) >= threshold)
      .filter(firstMatch)
    // Two verification regimes, same rows out (the usual ceiling-
    // gated pair; the count is on the materialized reps — cheap):
    //  - BROADCAST (reps fit a ~200 MB broadcast): the band join
    //    shuffles THIN sig rows and the (a,b) list picks its sets
    //    from two map-side BHJs. Measured 7.1 vs 10.2 s at sf0.1
    //    against inline-sh — at small scale the duplicated-sh
    //    exchange and fat SMJ buffers cost more than two BHJs.
    //  - INLINE-SH past the ceiling: sh RIDES THE BAND JOIN and
    //    jaccard evaluates as candidate rows stream out of the SMJ,
    //    so the candidate list is NEVER shuffled again. The old
    //    any-scale shape (shuffle-join the (a,b) list back to the
    //    sets on a, then on b) re-shuffled and re-sorted the
    //    candidate frame TWICE with ~200 B of set payload attached;
    //    on dup-dense corpora candidates outnumber documents by
    //    orders of magnitude (this corpus: 145M candidates from 320k
    //    docs at the 64× rung — those two shuffles were ~23 min of a
    //    24-min wall; inline-sh runs the rung in 145 s). Carrying sh
    //    costs bands × |sets| bytes in ONE exchange — bounded by the
    //    CORPUS, not by the candidate count, the side that explodes.
    val repPairs = (if (reps.count() <= setsBroadcastLimit) {
      val sigs = reps.select(col("id"), col("sz"), col("ba"),
        posexplode(col("ba")).as(Seq("band", "bucket")))
      val sets = broadcast(reps)
      bandJoin(sigs)
        .select(col("x.id").as("a"), col("y.id").as("b"))
        .join(sets.select(col("id").as("a"), col("sh").as("sha")), "a")
        .join(sets.select(col("id").as("b"), col("sh").as("shb")), "b")
    } else {
      val sigs = reps.select(col("id"), col("sz"), col("ba"), col("sh"),
        posexplode(col("ba")).as(Seq("band", "bucket")))
      bandJoin(sigs)
        .select(col("x.id").as("a"), col("y.id").as("b"),
          col("x.sh").as("sha"), col("y.sh").as("shb"))
    })
      .select(col("a"), col("b"),
        round(graft.functions.Registry.jaccardSorted(col("sha"), col("shb")), 4)
          .as("j"))
      .filter(col("j") >= threshold)
    // expand back to member pairs: cross-group pairs inherit the rep
    // pair's j verbatim (identical sets per group ⇒ identical J);
    // within-group pairs are J=1 by construction. Both are
    // output-sized joins — the expansion never exceeds the rows the
    // un-collapsed pipeline verified one at a time.
    val repOf = reps.select(col("id").as("rid"), col("gk"))
    val expand = members.join(repOf, "gk")
      .select(col("rid"), col("id")).materialize()
    val cross = repPairs
      .join(expand.select(col("rid").as("a"), col("id").as("ia")), "a")
      .join(expand.select(col("rid").as("b"), col("id").as("ib")), "b")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("j"))
    val within = members.as("x").join(members.as("y"),
        col("x.gk") === col("y.gk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        lit(1.0).as("j"))
    within.unionByName(cross)
  }

  /** Resolve near-dup PAIRS into dedup decisions: connected
    * components over the pair graph (transitive closure — if a≈b
    * and b≈c, all three are one cluster), keeper = the smallest id
    * of each cluster, like the reference-style canonical addressing
    * and exactGroups' min-id keeper. Returns every clustered doc as
    * (id, keeper); docs in no pair are implicitly their own keeper.
    * Adaptive: union-find on the driver while the pair list fits
    * (it is the distilled near-dup output, and dup clusters are
    * near-cliques — the worst case for label propagation);
    * distributed min-label CC past `driverLimit`. Both pick the
    * min-id keeper and never materialize the transitive closure.
    * The 2M default is measured against both failure modes: an
    * 8×-scale corpus whose pair list crossed a 1M limit spent ~70 s
    * in the distributed fixpoint for an answer the driver gives in
    * seconds, while the driver side costs roughly the deserialized
    * rows plus a boxed union-find map — ~hundreds of MB at 2M
    * string-id pairs, safe beyond Spark's default 1g driver but not
    * by an order of magnitude. Long-id pipelines on a sized driver
    * (this library's mains run 48g) can raise it to 5-10M and win
    * every time the collect fits. */
  def resolveClusters(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", driverLimit: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    // ids keep their input type: casting Long ids to string would
    // elect "10" over "2" as keeper (lexicographic ≠ numeric min)
    val idType = pairs.schema(aCol).dataType
    require(pairs.schema(bCol).dataType == idType,
      s"pair columns must share one type, got $idType vs " +
        pairs.schema(bCol).dataType)
    // checkpoint: the input is typically an expensive pipeline and
    // is read again below (count + collect, or count + self-union)
    val und = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .materialize()
    // the pair list is the DISTILLED near-dup output — usually orders
    // of magnitude smaller than the corpus, and near-clique (dup
    // clusters are dense), which is the worst case for iterative
    // label propagation. Under the limit, union-find on the driver
    // resolves millions of pairs in one pass; past it, fall back to
    // the distributed fixpoint.
    if (und.count() <= driverLimit) {
      import org.apache.spark.sql.types._
      implicit val ord: Ordering[Any] = (idType match {
        case LongType | IntegerType | ShortType | ByteType =>
          Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
        case DoubleType | FloatType =>
          Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
        case _: DecimalType =>
          Ordering.by((x: Any) => x.asInstanceOf[java.math.BigDecimal])
        case StringType =>
          // Spark's min() orders strings by UTF-8 bytes; JVM string
          // compare is UTF-16 and disagrees on supplementary chars —
          // both paths must elect the same keeper
          Ordering.comparatorToOrdering(
            java.util.Comparator.comparing((x: Any) =>
              org.apache.spark.unsafe.types.UTF8String
                .fromString(x.asInstanceOf[String])))
        case other => throw new IllegalArgumentException(
          s"unsupported id type for cluster resolution: $other")
      })
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent(c); parent(c) = r; c = next
        }
        r
      }
      und.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        // register both ends so self-pairs still emit their node
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by min id so every root is its cluster's keeper
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val rows = parent.keySet.toSeq
        .map(n => org.apache.spark.sql.Row(n, find(n)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("keeper", idType))))
    } else
      graft.graph.Algorithms.connectedComponents(
          und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
            .distinct())
        .withColumnRenamed("component", "keeper")
  }

  /** Train/eval contamination check (decontamination): for every
    * doc NOT in the train split, count its distinct word n-grams
    * that appear in ANY train-split document — the overlap detector
    * run before an eval set is trusted. Only docs with ≥ n tokens
    * participate (a shorter doc has no full n-gram).
    *
    * Scale shape: explode to distinct grams per doc, distinct the
    * train side, and semi-join on the gram — one shuffle each side,
    * output rows only for genuinely contaminated docs. At 100 TB
    * you would join on xxhash64(gram) to shrink the exchange; the
    * string key is kept here so the result is oracle-checkable
    * verbatim in any engine. */
  def crossSplitContamination(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 8,
      preFilterBloom: Option[Array[Byte]] = None): DataFrame = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    val split = graft.text.TextAnalysis.assignSplit(col(idCol))
    // the split predicate sits BELOW gram generation: the branches
    // select disjoint doc subsets, so every document is tokenized
    // and exploded exactly once across the whole query. The token
    // array is materialized as its OWN projection before ngrams —
    // the gram expression references its input ~n+2 times, and
    // handing it the raw `split(text)` expression re-tokenized the
    // document once per reference (measured 9 s for a 200k-gram
    // explode; a real column makes CollapseProject keep the
    // projection, since it never duplicates a non-cheap expression
    // referenced more than once).
    def gramsOf(sub: DataFrame) = sub
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(ngrams(col("toks"), n)).as("gram"))
    val trainGrams = gramsOf(docs.filter(split === "train"))
      .select("gram").distinct()
    // bloom pre-filter on the probe side (guide §3.2, r12 verdict
    // #4): when the caller already holds the train-gram bloom (the
    // d_decontaminate_bloom artifact), eval grams that CANNOT match
    // are dropped map-side before the gram exchange — the heavy
    // shuffle then carries only genuinely-contaminated docs' grams
    // plus the fpp. No false negatives, and the exact string
    // semi-join still verifies every survivor, so the result is
    // byte-identical with or without the filter.
    val evalGrams0 = gramsOf(docs.filter(split =!= "train"))
    val evalGrams = preFilterBloom match {
      case Some(bf) if bf != null => evalGrams0.filter(
        graft.functions.Registry.mightContain(
          lit(bf), xxhash64(col("gram"))))
      case _ => evalGrams0
    }
    evalGrams
      .join(trainGrams, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** FUZZY cross-split decontamination: eval docs that are MinHash
    * near-duplicates of any train doc — the Dolma/FineWeb-style
    * step that catches paraphrased or lightly-edited benchmark
    * leakage the exact-n-gram check misses (an eval item reworded
    * shares few 8-grams but keeps high token-set Jaccard).
    *
    * Same banded kernel as [[minhashNearDups]] — signatures map-side,
    * the only shuffle is the band-bucket join, first-matching-band
    * scalar chain instead of a distinct() — but CROSS-FRAME: eval
    * bands probe train bands, so candidate volume is
    * |eval|-driven, not corpus-squared; the size-ratio guard prunes
    * impossible pairs before the exact-Jaccard verification. Emits
    * per eval doc the count of contaminating train docs and the max
    * verified Jaccard (the triage ranking a decontamination review
    * queue wants). Rows-only + spec (hash-internal banding; the spec
    * plants a paraphrased pair and an innocent doc). */
  def crossSplitContaminationFuzzy(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5,
      numHashes: Int = 30, bands: Int = 6,
      prebuiltHashed: Option[DataFrame] = None): DataFrame = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    val r = numHashes / bands
    // when the caller shares the corpus-wide [[hashedTokenSets]]
    // frame, the tokenize+hash+sort pass (this operator's dominant
    // scan) is already checkpointed — only the cheap per-row split
    // assignment is added. Output-identical to the private build:
    // the shared frame drops sh-null rows, which the pipeline below
    // drops anyway (posexplode of a null band array emits nothing).
    val split = graft.text.TextAnalysis.assignSplit(col(idCol))
    val withSets = prebuiltHashed.map(_.select(col("id"),
        graft.text.TextAnalysis.assignSplit(col("id")).as("sp"),
        col("sh")))
      .getOrElse(docs.select(col(idCol).as("id"), split.as("sp"),
          array_sort(transform(tokenSet(col(textCol)), t => xxhash64(t)))
            .as("sh"))
        .materialize())
    def sigsOf(side: DataFrame) = side
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .withColumn("ba", lshBands(col("sig"), bands, r))
      .select(col("id"), size(col("sh")).as("sz"), col("ba"),
        posexplode(col("ba")).as(Seq("band", "bucket")))
    val ev = sigsOf(withSets.filter(col("sp") =!= "train")).as("x")
    val tr = sigsOf(withSets.filter(col("sp") === "train")).as("y")
    val firstMatch = (1 until bands).foldLeft(
        when(col("x.band") === 0, lit(true))) { (acc, k) =>
      acc.when(col("x.band") === k,
        (0 until k).map(i => col("x.ba")(i) =!= col("y.ba")(i))
          .reduce(_ && _))
    }.otherwise(lit(false))
    val cands = ev.join(tr,
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket"))
      .filter(least(col("x.sz"), col("y.sz")).cast("double")
        / greatest(col("x.sz"), col("y.sz")) >= threshold)
      .filter(firstMatch)
      .select(col("x.id").as("e"), col("y.id").as("t"))
    val sets =
      if (withSets.count() <= setsBroadcastLimit) broadcast(withSets)
      else withSets
    cands
      .join(sets.select(col("id").as("e"), col("sh").as("she")), "e")
      .join(sets.select(col("id").as("t"), col("sh").as("sht")), "t")
      .select(col("e"), col("t"),
        round(graft.functions.Registry.jaccardSorted(col("she"), col("sht")),
          4).as("j"))
      .filter(col("j") >= threshold)
      .groupBy(col("e").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("j")).as("max_j"))
  }

  /** Bloom-filter form of [[crossSplitContamination]] — the 100 TB
    * scale path. The train side collapses to a fixed-size bit array
    * built with Spark's native bloom aggregate (partial per-partition
    * buffers, merged like any TypedImperativeAggregate), so the eval
    * side never shuffles against train grams at all: each eval gram
    * is probed locally by the codegen'd `might_contain` predicate —
    * the probe stays inside WholeStageCodegen where a per-row Scala
    * UDF would break the span. Grams are xxhash64'd to int64 on both
    * sides (the aggregate's input contract, and an 8-byte exchange
    * instead of the gram string). One-sided error only — every truly
    * shared gram is flagged (no false negatives, so contaminated
    * docs are NEVER missed); `fpp` bounds the per-gram
    * false-positive rate, and flagged docs would be re-checked
    * exactly (the semi-join of the exact operator, now over a tiny
    * candidate set). The sketch hashes deterministically — but
    * hash-internal, hence rows-only + spec (superset-of-exact pinned
    * in EventAnalyticsSpec).
    */
  /** Build the train-side gram bloom of
    * [[crossSplitContaminationBloom]] on its own: a driver-held
    * sketch a query layer can build once per corpus and share
    * between the bloom operator and the exact operator's probe-side
    * pre-filter (r12 verdict #4). None ⇔ the train split has no
    * grams.
    *
    * The bloom is built WITHOUT a distinct (duplicate insertions
    * set the same bits) and sized from a cheap columnar doc count ×
    * a per-doc gram estimate instead of an exact distinct-gram
    * count — so the whole train side is ONE shuffle-free aggregate
    * pass. Overestimating the size only costs bloom bits (~10
    * bits/item at 1% fpp); underestimating degrades fpp, never
    * recall — tune `gramsPerDocEstimate` to the corpus' documents,
    * not its grams. Note the aggregate silently clamps to
    * spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}
    * (4M / 67M-bit defaults) — raise those confs for bigger corpora.
    * (At 100 TB a single driver-held bloom stops fitting; the same
    * construction shards by xxhash64(gram) range into a bloom per
    * shard, probed by the same routing — the per-shard shape is
    * exactly this one.) */
  def trainGramBloom(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, fpp: Double = 0.01,
      gramsPerDocEstimate: Long = 256L): Option[Array[Byte]] = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    val split = graft.text.TextAnalysis.assignSplit(col(idCol))
    val nTrainDocs = docs.filter(split === "train").count()
    val nItems = math.max(1000L, nTrainDocs * gramsPerDocEstimate)
    val nBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nItems, fpp)
    val grams = docs.filter(split === "train")
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(ngrams(col("toks"), n)).as("gram"))
    Option(grams
      .select(graft.functions.Registry.bloomAgg(
        xxhash64(col("gram")), lit(nItems), lit(nBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
  }

  def crossSplitContaminationBloom(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 8, fpp: Double = 0.01,
      gramsPerDocEstimate: Long = 256L,
      prebuiltBloom: Option[Option[Array[Byte]]] = None): DataFrame = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    val split = graft.text.TextAnalysis.assignSplit(col(idCol))
    def gramsOf(sub: DataFrame) = sub
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(ngrams(col("toks"), n)).as("gram"))
    // outer None = build here; inner None = no train grams
    val bloom = prebuiltBloom.getOrElse(
      trainGramBloom(docs, idCol, textCol, n, fpp, gramsPerDocEstimate))
    val evalGrams = gramsOf(docs.filter(split =!= "train"))
    val flagged = bloom match {
      case None => evalGrams.filter(lit(false)) // no train grams
      case Some(bf) => evalGrams.filter(
        graft.functions.Registry.mightContain(lit(bf), xxhash64(col("gram"))))
    }
    flagged.groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
  }

  /** Content-defined chunking (FastCDC-style, word granularity):
    * a chunk boundary falls AFTER token i whenever the hash of the
    * 3-token window ending at i hits the cut mask (last md5 nibble
    * = '0', so boundaries fire with prob 1/16 → ~16-token average
    * chunks). Because boundaries depend only on LOCAL content, an
    * insertion early in a document shifts at most one chunk —
    * unlike fixed-size chunking where every later chunk changes —
    * which is what makes chunk-level dedup stable under edits.
    * Entirely map-side (token-array HOFs, one explode, no shuffle);
    * md5 arithmetic replays exactly in any oracle engine. Each
    * chunk carries its md5 fingerprint — group by it downstream for
    * chunk-level dedup. */
  def cdcChunks(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Native single-pass expression (graft_cdc_cuts) — the same
    // recurrence as an `aggregate()` HOF fold is interpreted per
    // element with a struct-state copy per step (31 s at the 8×
    // corpus vs ~2 s compiled), and the earlier boundary-filter +
    // cut-array-transform formulation re-evaluated the boundary
    // computation at every lambda reference (the CollapseProject
    // inlining trap §8 documents for ngrams — 55 s at sf0.1).
    graft.functions.Registry.registerAll(docs.sparkSession)
    val chunksExpr = graft.functions.Registry.cdcCuts(col("toks"))
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"), chunksExpr.as("chunks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("chunks")).as(Seq("ci", "c")))
      .select(col("doc_id"), (col("ci") + 1).as("chunk_idx"),
        md5(concat_ws(" ",
          slice(col("toks"), col("c.s") + 1, col("c.e") - col("c.s"))))
          .as("fp"),
        (col("c.e") - col("c.s")).as("n_toks"))
  }

  /** 64-bit SimHash over the token multiset: bit b of the result is
    * set iff strictly more token-hashes have bit b set than clear,
    * with bit b = bit (b mod 4) of hex digit (b div 4) of
    * md5(token) — a family DuckDB md5() replays exactly, which is
    * what gives d_dedup_simhash an exact SQL oracle. Native
    * single-pass expression. */
  def simhash64(toks: Column): Column =
    graft.functions.Registry.simhash(toks)

  /** SimHash near-dup pairs: band the 64-bit fingerprint into four
    * 16-bit blocks; a pair is a candidate iff some block matches
    * exactly, then candidates are verified by true hamming distance
    * ≤ maxHamming. By pigeonhole the block match GUARANTEES recall
    * for hamming ≤ 3; beyond that recall is heuristic (bits of real
    * near-dups cluster, so most small-distance pairs still share a
    * block — pinned empirically in DedupSpec). Narrower blocks would
    * extend the guarantee but blow up bucket sizes (8-bit blocks =
    * 256 buckets/band → ~n²/256 candidate pairs per band). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8): DataFrame = {
    graft.functions.Registry.registerAll(docs.sparkSession)
    val withSim = docs.select(col(idCol).as("id"),
      simhash64(tokens(col(textCol))).as("sim"))
    bandedHammingPairs(withSim, "id", "sim", bands = 4, bandBits = 16,
      maxHamming)
  }

  /** Banded-hamming candidate join over a ≤64-bit hash column — the
    * shared kernel of [[simhashNearDups]] (text fingerprints) and
    * `Multimodal.phashPairs` (image perceptual hashes): `bands`
    * blocks of `bandBits` low bits each; a pair sharing ANY intact
    * block becomes a candidate (per-bucket joins, never n²) and is
    * verified by exact `bit_count(xor)`. Pigeonhole: recall is EXACT
    * for `maxHamming ≤ bands − 1`; beyond that it is heuristic
    * (close hashes cluster their flipped bits) — callers declare
    * their own contract. Returns (a, b, hamming), a < b, each pair
    * once. */
  def bandedHammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      bands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    require(bands > 0 && bandBits > 0 && bands * bandBits <= 64,
      s"banding $bands×$bandBits does not fit a 64-bit hash")
    val banded = hashes.select(col(idCol).as("id"), col(hashCol).as("h"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      // arithmetic shiftright then mask is sign-safe for the top band
      .withColumn("block", call_function("shiftright", col("h"),
        (lit(bandBits) * col("band")).cast("int"))
        .bitwiseAND(lit((1L << bandBits) - 1)))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.block") === col("y.block") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-document duplication report over [[duplicateSpans]]: how
    * many tokens sit inside cross-document duplicated spans, and
    * what fraction of the document that is — the decision signal an
    * ExactSubstr-style pipeline acts on (drop or trim documents past
    * a duplication threshold). One extra |docs|-row join against the
    * token counts; docs with no duplicated span report 0. */
  def duplicationStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, n)
      .groupBy(idCol)
      .agg(sum("n_dup_tokens").as("dup_tokens"),
        count(lit(1)).cast("long").as("n_spans"))
    docs.select(col(idCol), size(tokens(col(textCol))).cast("long")
        .as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 4).as("dup_frac"))
  }

  /** Cross-document duplicated-substring spans — the ExactSubstr
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") realized at word-n-gram granularity:
    * every n-gram that ALSO occurs in another document marks its
    * token range `[pos, pos+n-1]` as duplicated, and overlapping or
    * adjacent ranges merge into maximal spans per document
    * (gaps-and-islands over the running max end). Spans ≥ n tokens
    * long are exactly the regions ExactSubstr would cut; a span's
    * length measures HOW MUCH of the doc is boilerplate/copied.
    *
    * Scale shape (never n², cost tracks the gram count like
    * decontaminate): gram extraction is map-side and runs ONCE —
    * "duplicated" is a min/max window over the gram-hash partition
    * (cross-doc occurrence = `min(doc) <> max(doc)`, no
    * count-distinct), so the whole detection pays one exchange on
    * the gram key instead of the previous groupBy + join-back shape
    * whose two consumers of the gram frame re-ran tokenize+md5 per
    * position TWICE and paid a second (partial-agged) exchange
    * (r12 ABBA at sf0.1, OPTIMIZATION_r12.md session 3 #2 and
    * plans/r12/d_dedup_spans_{before,after}.txt: 3.15 → 1.54 s best,
    * executed stages 5 → 4, shuffle 9.3 → 6.9 MB, output
    * byte-identical). The island merge is one window shuffle on
    * doc id. Grams travel as md5 hashes, not strings — binary
    * `unhex(md5)` since r12, 16 B a row on the heavy exchange —
    * and md5 is engine-portable, so the oracle replays it.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"span grams need n >= 2, got $n")
    val toks = col("__toks")
    val grams = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(toks) >= n)
      .select(col(idCol), posexplode(transform(
          sequence(lit(0), size(toks) - n),
          i => unhex(md5(concat_ws(" ", slice(toks, i + 1, lit(n)))))))
        .as(Seq("pos", "g")))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val prevMaxEnd = max(col("pos") + (n - 1))
      .over(w.rowsBetween(Long.MinValue, -1))
    grams
      .withColumn("__mn", min(col(idCol)).over(wg))
      .withColumn("__mx", max(col(idCol)).over(wg))
      .filter(col("__mn") =!= col("__mx"))
      .select(col(idCol), col("pos"))
      .withColumn("__new",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd + 1, 1)
          .otherwise(0))
      .withColumn("__island", sum("__new").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (n - 1)).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_dup_tokens"))
  }

  /** The TRIM step that completes the ExactSubstr pipeline: rebuild
    * each document with every [[duplicateSpans]] region removed —
    * the boilerplate-scrub form (cut the duplicated text from every
    * doc; Lee et al. cut all-but-one occurrence, which needs a
    * global occurrence order — at 100 TB the scrub form is what
    * C4/CCNet-style pipelines actually run on boilerplate). Emits
    * original and kept token counts plus the trimmed text.
    *
    * Scale shape: the span computation is [[duplicateSpans]]
    * unchanged; spans collapse to a per-doc array (spans per doc ≤
    * tokens/n, usually a handful) joined back on the doc id the
    * window already shuffled on, and the rebuild is one map-side
    * higher-order filter over token positions — no new shuffle
    * class. */
  def trimSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, n)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .join(spans, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        expr("CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)")))
      .withColumn("__kept", expr(
        """filter(
             transform(sequence(0, size(__toks) - 1),
               p -> named_struct('p', p, 't', element_at(__toks, p + 1))),
             x -> NOT exists(__spans,
               s -> x.p >= s.span_start AND x.p <= s.span_end))"""))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        concat_ws(" ", expr("transform(__kept, x -> x.t)"))
          .as("trimmed_text"))
  }
}
