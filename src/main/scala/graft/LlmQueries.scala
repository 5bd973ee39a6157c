package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ann.Knn
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.streaming.{EventStreams, Funnels}
import graft.text.{Packing, Retrieval => TextRetrieval, TextAnalysis}
import graft.plans.Materialize._
import graft.util.Memos

/** LLM-training-data pipeline + streaming blocks of SURVEY.md §2. */
object LlmQueries {

  private val dim = 64

  // fixed CMS probe tokens (known corpus vocabulary + one absent);
  // shared verbatim by the oracle's literal list
  private val CmsProbeTokens = Seq("the", "spark", "join", "merge",
    "batch", "window", "data", "key", "scan", "zzz_absent")

  // the verified near-dup pairs at the loosest threshold any query
  // needs: banding makes the candidate+verification cost threshold-
  // independent, so the pair queries and the cluster resolution share
  // one pipeline run and re-filter on j (inputs are immutable dirs,
  // same memoization contract and bound as GraphBuilder's adjacency)
  private val pairsCache =
    new Memos.Memo[(SparkSession, String), DataFrame](16, derived = true)
  // the corpus-wide hashed-token-set frame (tokenize + per-token
  // xxhash64 + sort + 128-bit content key, checkpointed) — the
  // dominant scan of BOTH the minhash pipeline and the fuzzy
  // decontamination check; built once per (session, dir) like the
  // pair frame (r12 verdict #4 / guide §1.2). Bench attribution: the
  // minhash key runs first (orderKey) so the build bills to it.
  private val hashedCache =
    new Memos.Memo[(SparkSession, String), DataFrame](16, derived = true)
  private def hashedSets(s: SparkSession, d: String): DataFrame =
    hashedCache((s, d))(
      Dedup.hashedTokenSets(Tables.documents(s, d), "doc_id", "text"))
  // the train-side 8-gram bloom (driver-held sketch): built once per
  // (session, dir), consumed by d_decontaminate_bloom (its namesake,
  // runs first via orderKey) and as the exact check's probe-side
  // pre-filter (guide §3.2 — drops definitely-clean eval grams
  // map-side before the gram exchange; the exact semi-join still
  // verifies every survivor, so the result is unchanged)
  private val bloomCache =
    new Memos.Memo[(SparkSession, String), Option[Array[Byte]]](16, derived = true)
  private def trainBloom(s: SparkSession, d: String): Option[Array[Byte]] =
    bloomCache((s, d))(
      Dedup.trainGramBloom(Tables.documents(s, d), "doc_id", "text", n = 8))
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    pairsCache((s, d))(
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8, prebuiltHashed = Some(hashedSets(s, d)))
        .materialize())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_dedup_exact" -> { (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .filter(col("n_copies") > 1)
        .orderBy("fp")
    },

    "d_jaccard_pairs" -> { (s, d) =>
      // exact token-set Jaccard over consecutive-id pairs (the
      // verification kernel of the LSH pipeline, oracle-checkable)
      val t = Tables.documents(s, d)
        .select(col("doc_id"), Dedup.tokenSet(col("text")).as("toks"))
      t.as("x").join(t.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          round(Dedup.jaccard(col("x.toks"), col("y.toks")), 4).as("j"))
        .filter(col("j") >= 0.5)
        .orderBy("a")
    },

    "d_containment" -> { (s, d) =>
      // Broder containment |A∩B|/|A| both directions — the dedup
      // signal Jaccard misses when a small doc is swallowed by a
      // large one (quote extraction, boilerplate wrappers): J stays
      // low while containment hits 1. Same consecutive-id candidate
      // kernel as d_jaccard_pairs; flags engulfed docs at ≥ 0.8.
      val t = Tables.documents(s, d)
        .select(col("doc_id"), Dedup.tokenSet(col("text")).as("toks"))
      t.as("x").join(t.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          size(array_intersect(col("x.toks"), col("y.toks"))).as("n_common"),
          round(size(array_intersect(col("x.toks"), col("y.toks")))
            .cast("double") / size(col("x.toks")), 4).as("c_ab"),
          round(size(array_intersect(col("x.toks"), col("y.toks")))
            .cast("double") / size(col("y.toks")), 4).as("c_ba"))
        .filter(col("c_ab") >= 0.8 || col("c_ba") >= 0.8)
        .orderBy("a")
    },

    "d_jaccard_ngrams" -> { (s, d) =>
      // word-3-gram Jaccard, the order-sensitive variant: this
      // corpus's near-dups are token-shuffled, so values are near 0
      // by design — the oracle checks the exact arithmetic, not a
      // threshold
      // tokens materialized as a real column first: ngrams references
      // its input inside a transform lambda (re-evaluated per gram),
      // so handing it the raw split(text) re-tokenizes per reference
      val t = Tables.documents(s, d).filter(col("doc_id") <= 200)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
        .select(col("doc_id"), Dedup.ngrams(col("toks"), 3).as("g"))
      t.as("x").join(t.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          round(Dedup.jaccard(col("x.g"), col("y.g")), 4).as("j"))
        .orderBy("a")
    },

    "d_dedup_minhash" -> { (s, d) =>
      minhashPairs(s, d).orderBy("a", "b")
    },

    "d_dedup_clusters" -> { (s, d) =>
      // pairs → transitive clusters → canonical keeper per doc
      // (rows-only: input pair set is minhash-dependent; semantics
      // pinned in DedupSpec). Threshold 0.9: clusters decide actual
      // removals, so they run on true duplicates, not the review-band
      // 0.8 pairs — and the 0.8 graph on this 12%-near-dup corpus is
      // dense enough that its closure approaches one giant component.
      Dedup.resolveClusters(minhashPairs(s, d).filter(col("j") >= 0.9))
        .orderBy("node")
    },

    "d_dedup_simhash" -> { (s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 8)
        .orderBy("a", "b")
    },

    "d_neardup_embedding" -> { (s, d) =>
      Knn.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          dim, threshold = 0.35)
        .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
        .orderBy("a", "b")
    },

    "d_neardup_lsh" -> { (s, d) =>
      // scale path of d_neardup_embedding: banded sign-LSH candidates
      // + exact verification instead of the n² pair join; recall vs
      // the exact pairs is pinned in AnnSpec. EXACT oracle since r8:
      // the hyperplanes are md5-derived, so DuckDB replays the whole
      // band/bucket/verify pipeline including the log2(n/256) bits
      Knn.nearDupPairsLsh(Tables.embeddings(s, d), "vec_id", "embedding",
          dim, threshold = 0.35, bands = 12, bitsPerBand = 3)
        .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
        .orderBy("a", "b")
    },

    "e_knn_brute" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Knn.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "e_knn_ivf" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val model = ann.Ivf.trainCached(emb, "vec_id", "embedding", dim, k = 16)
      ann.Ivf.topK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim, k = 5, model, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "e_knn_lsh" -> { (s, d) =>
      // EXACT oracle since r8 — md5-derived hyperplanes make the
      // bucket computation engine-independent (see Knn.hyperplanes)
      val emb = Tables.embeddings(s, d)
      Knn.lshTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "e_knn_pq" -> { (s, d) =>
      // product-quantization ANN: coded corpus + ADC + exact re-rank
      // (rows-only: Lloyd means are float-sum order-dependent, like
      // IVF; semantics pinned in AnnSpec)
      val emb = Tables.embeddings(s, d)
      val model = ann.Pq.trainCached(emb, "vec_id", "embedding", dim,
        m = 4, k = 16)
      ann.Pq.topK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim, k = 5, model)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "e_knn_filtered" -> { (s, d) =>
      // filtered vector search: same-label top-5 per query — the
      // predicate joins BEFORE scoring (BroadcastHashJoin on label,
      // never a post-filter that starves k)
      val emb = Tables.embeddings(s, d)
      ann.Knn.filteredTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", dim, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("label"),
          col("rk"), round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "e_knn_sq" -> { (s, d) =>
      // scalar-quantization ANN: normalize + signed-int8 grid,
      // integer ADC shortlist, exact re-rank — the one quantized
      // family whose oracle can be exact (no codebook training)
      val emb = Tables.embeddings(s, d)
      ann.Sq.topK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "e_knn_ivfpq" -> { (s, d) =>
      // IVF×PQ composition: cell-pruned candidates, ADC-scored codes,
      // exact re-rank (rows-only like its parents; AnnSpec pins
      // recall vs brute and containment in the probed cells)
      val emb = Tables.embeddings(s, d)
      val ivf = ann.Ivf.trainCached(emb, "vec_id", "embedding", dim, k = 16)
      val pq = ann.Pq.trainCached(emb, "vec_id", "embedding", dim, m = 4, k = 16)
      ann.Pq.topKWithIvf(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", dim, k = 5, pq, ivf, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rk")
    },

    "t_token_stats" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          size(TextAnalysis.wsTokens(col("text"))).as("n_ws_tokens"),
          size(TextAnalysis.bpeishTokens(col("text"))).as("n_re_tokens"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    },

    "d_decontaminate" -> { (s, d) =>
      // eval-split docs sharing ≥1 word-8-gram with any train doc —
      // the decontamination pass run before trusting an eval set.
      // On this token-shuffled corpus the hits are exact duplicates
      // straddling the split boundary (permuted near-dups share no
      // 8-gram), which is exactly the leak the check must catch.
      Dedup.crossSplitContamination(Tables.documents(s, d),
          "doc_id", "text", n = 8,
          preFilterBloom = trainBloom(s, d))
        .orderBy("doc_id")
    },

    "d_decontaminate_fuzzy" -> { (s, d) =>
      // MinHash near-dup leakage across the split: catches the
      // PARAPHRASED/permuted contamination the 8-gram check misses
      // (this corpus's token-shuffled near-dups share high token-set
      // Jaccard but no 8-gram). Rows-only: banding is hash-internal;
      // DedupSpec plants a reworded pair + an innocent doc.
      Dedup.crossSplitContaminationFuzzy(Tables.documents(s, d),
          "doc_id", "text", threshold = 0.5,
          prebuiltHashed = Some(hashedSets(s, d)))
        .orderBy("doc_id")
    },

    "t_vocab" -> { (s, d) =>
      // vocabulary building: corpus-wide token frequencies, top 200.
      // explode → partial (map-side) count → ONE shuffle on token →
      // TakeOrderedAndProject (orderBy+limit never global-sorts the
      // full vocab); ties at the cut broken by token for determinism
      Tables.documents(s, d)
        .select(explode(TextAnalysis.wsTokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(200)
    },

    "t_quality" -> { (s, d) =>
      TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_langid" -> { (s, d) =>
      TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_split" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.assignSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")
    },

    "t_chunks" -> { (s, d) =>
      TextAnalysis.chunk(Tables.documents(s, d), "doc_id", "text",
          size = 40, overlap = 10)
        .orderBy("doc_id", "chunk_id")
    },

    "t_fingerprint" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.rollingFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    "m_multimodal_meta" -> { (s, d) =>
      Multimodal.decodeFeatures(
          Multimodal.attachMedia(Tables.documents(s, d)))
        .toDF().orderBy("doc_id")
    },

    "s_window_agg" -> { (s, d) =>
      EventStreams.windowAggBatch(Tables.events(s, d))
        .orderBy("window_start", "event_type")
    },

    "s_sessionize" -> { (s, d) =>
      EventStreams.sessionizeBatch(Tables.events(s, d))
        .orderBy("user_id", "event_id")
    },

    "s_gap_fill" -> { (s, d) =>
      // daily forward-filled value series for the first 100 users —
      // time-series densification (observed vs filled flagged)
      EventStreams.gapFillDaily(
        Tables.events(s, d).filter(col("user_id") < 100))
        .orderBy("user_id", "day")
    },

    "s_session_paths" -> { (s, d) =>
      // top-25 session journeys (first 5 steps) — funnel discovery
      EventStreams.sessionPathsBatch(Tables.events(s, d))
    },

    "s_session_native" -> { (s, d) =>
      // Spark's native session_window operator; the oracle replays
      // the gap rule as lag + running sum, proving the two agree
      EventStreams.sessionWindowNative(Tables.events(s, d))
        .orderBy("user_id", "session_start")
    },

    "s_asof_join" -> { (s, d) =>
      // for every click, the state of the user's latest purchase at
      // or before that click — the temporal feature-lookup join
      val ev = Tables.events(s, d)
      graft.operators.AsOfJoin.asOf(
          probe = ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          build = ev.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          keyCols = Seq("user_id"), tsCol = "ts",
          buildTiebreak = "event_id",
          valueCols = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"), col("asof_event_id"),
          round(col("asof_value"), 4).as("asof_value"))
        .orderBy("event_id")
    },

    "s_interval_join" -> { (s, d) =>
      // attribution: clicks within 24h after each purchase —
      // point-in-interval join, bucketed so hot users never go
      // quadratic (see operators.IntervalJoin); bucket width = the
      // window span, so each interval explodes to ≤ 2 buckets
      val ev = Tables.events(s, d)
      val dayUs = 86400000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("start_us"))
        .withColumn("end_us", col("start_us") + dayUs)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      graft.operators.IntervalJoin.bucketed(purchases, clicks,
          keyCols = Seq("user_id"), startCol = "start_us",
          endCol = "end_us", tsCol = "c_us", bucketWidthUs = dayUs)
        .groupBy("p_id", "user_id")
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("p_id")
    },

    "t_pii_redact" -> { (s, d) =>
      // the corpus text is PII-free by construction, so the query
      // prepends a contact header derived deterministically from doc
      // fields — the oracle replays both the header and the scrub, so
      // it checks the redaction arithmetic on non-degenerate input
      val did = col("doc_id").cast("string")
      val header = concat(
        lit("contact user"), did, lit("@"), col("source"), lit(".org "),
        when(pmod(col("doc_id"), lit(2)) === 0, concat(
          lit("call 555-"), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
          lit(" "))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0, concat(
          lit("host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), pmod(col("doc_id") * 3, lit(256)).cast("string"),
          lit(".1 "))).otherwise(lit("")))
      val withPii = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          concat(header, col("text")).as("text"))
      TextAnalysis.redactPii(withPii, "doc_id", "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },

    "t_repetition" -> { (s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d),
          "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },

    "t_sample" -> { (s, d) =>
      // corpus mixing: per-source keep rates 0.25/0.5/0.75/1.0 by
      // source number mod 4, applied as the deterministic hash
      // Bernoulli — map-side, reproducible, stable under growth
      val rate = (pmod(substring(col("source"), 4, 10).cast("int"), lit(4)) + 1)
        .cast("double") / 4.0
      Tables.documents(s, d)
        .filter(TextAnalysis.sampleKeep(col("doc_id"), rate))
        .select(col("doc_id"), col("source"), round(rate, 2).as("rate"))
        .orderBy("doc_id")
    },

    "e_cluster_assign" -> { (s, d) =>
      Knn.centroidAssign(Tables.embeddings(s, d), "vec_id", "embedding",
          "label", dim)
        .select(col("vec_id"), col("label"), col("assigned_label"),
          round(col("sim"), 4).as("sim"))
        .orderBy("vec_id")
    },

    "d_semdedup" -> { (s, d) =>
      // SemDeDup: nearest-centroid clustering, then near-dup removal
      // ONLY within each cluster — the cluster-local join is what
      // keeps semantic dedup sub-quadratic at corpus scale
      Knn.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          "label", dim, threshold = 0.35)
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          round(col("sim"), 4).as("sim"))
        .orderBy("vec_id")
    },

    "d_semdedup_scaled" -> { (s, d) =>
      // the k∝n form (label clusters grow with the corpus — the 64×
      // probe measured the label form's quadratic wall). Rows-only:
      // k-means is float-iteration dependent; AnnSpec pins precision
      // (every pair cosine-verified) and recall vs the label form
      Knn.semDedupScaled(Tables.embeddings(s, d), "vec_id",
          "embedding", dim, threshold = 0.35, targetClusterSize = 256)
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          round(col("sim"), 4).as("sim"))
        .orderBy("vec_id")
    },

    "t_mixture" -> { (s, d) =>
      // token-budget corpus mixing: every source capped at the same
      // token budget by deterministic Bernoulli downsampling
      TextAnalysis.mixToBudget(Tables.documents(s, d), "doc_id", "text",
          "source", budgetTokens = 1300L)
        .orderBy("doc_id")
    },

    "t_bm25" -> { (s, d) =>
      TextRetrieval.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "stream"), k = 25)
    },

    "e_hybrid_rrf" -> { (s, d) =>
      // hybrid retrieval: BM25 keyword list fused with the embedding
      // cosine list by reciprocal-rank fusion (doc 0's embedding as
      // the semantic query, the bm25 terms as the lexical one)
      TextRetrieval.hybridRrf(Tables.documents(s, d),
        Tables.embeddings(s, d), "doc_id", "text", "vec_id", "embedding",
        dim, Seq("spark", "join", "stream"), queryVecId = 0L, k = 25)
    },

    "t_filter_rules" -> { (s, d) =>
      // Gopher-style rule gate: five features + pass flags + keep
      TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_curate" -> { (s, d) =>
      // FUSED one-pass curation: quality + Gopher gate + langid +
      // split + exact-dup canonicalization in one scan + one shuffle
      // (CurationSpec pins the plan shape and per-operator equality)
      TextAnalysis.curate(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_normalize" -> { (s, d) =>
      // unicode normalization (native graft_nfc / graft_fold):
      // DECOMPOSED accents are synthesized deterministically
      // ('a' → 'a'+U+0301) so the pass has real work — NFC composes
      // them (shorter string), accent folding strips them back to
      // the original ASCII text
      graft.functions.Registry.registerAll(s)
      val synth = regexp_replace(col("text"), "a", "a\u0301")
      Tables.documents(s, d).select(col("doc_id"),
          md5(call_function("graft_nfc", synth)).as("nfc_fp"),
          md5(call_function("graft_fold", synth)).as("fold_fp"),
          (length(call_function("graft_nfc", synth)) < length(synth))
            .as("composed"),
          (call_function("graft_fold", synth) === col("text"))
            .as("fold_restores"))
        .orderBy("doc_id")
    },

    "m_phash" -> { (s, d) =>
      // perceptual hash of every media payload (stub decode)
      Multimodal.phash(Multimodal.attachMedia(Tables.documents(s, d)))
        .toDF().orderBy("doc_id")
    },

    "m_phash_dedup" -> { (s, d) =>
      // image near-dup pairs: hamming-banded phash join + exact
      // bit_count verification (the visual analog of d_dedup_simhash)
      Multimodal.phashPairs(
          Multimodal.phash(Multimodal.attachMedia(Tables.documents(s, d))))
        .orderBy("a", "b")
    },

    "d_dedup_spans" -> { (s, d) =>
      // ExactSubstr-style duplicated spans: maximal token ranges
      // covered by word-8-grams that also occur in another document
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")
    },

    "d_dup_stats" -> { (s, d) =>
      // the per-doc report over the spans: duplicated-token count and
      // fraction — the drop/trim decision signal
      Dedup.duplicationStats(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },

    "t_span_trim" -> { (s, d) =>
      // the trim step completing ExactSubstr: every duplicated span
      // cut out, doc rebuilt from the surviving tokens
      Dedup.trimSpans(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },

    "t_perplexity" -> { (s, d) =>
      TextRetrieval.unigramPerplexity(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_pack" -> { (s, d) =>
      Packing.packGreedy(Tables.documents(s, d), "doc_id", "text",
          "source", budget = 256)
        .orderBy("source", "doc_id")
    },

    "t_shards" -> { (s, d) =>
      // trainer-shard manifest: content-independent md5 assignment,
      // one scan + one 32-group aggregate (see Packing.shardAssign /
      // writeShards for the partitioned-write half)
      Packing.shardStats(Tables.documents(s, d), "doc_id", "text",
          nShards = 32)
        .orderBy("shard")
    },

    "t_drift" -> { (s, d) =>
      // train-vs-val token-distribution drift, top-200 tokens:
      // smoothed rate ratio, no logs — bit-exact cross-engine
      TextAnalysis.tokenDrift(Tables.documents(s, d), "doc_id", "text")
    },

    "s_hop_window" -> { (s, d) =>
      EventStreams.hoppingWindowAggBatch(Tables.events(s, d))
        .orderBy("window_start", "event_type")
    },

    "s_transitions" -> { (s, d) =>
      // first-order Markov transition matrix over each user's
      // time-ordered event sequence
      EventStreams.transitionsBatch(Tables.events(s, d))
        .orderBy("from_type", "to_type")
    },

    "s_pattern_match" -> { (s, d) =>
      // CEP pattern: clicks within 1 h of a signup with no purchase
      // in between (running conditional maxima, one window shuffle)
      EventStreams.patternMatchBatch(Tables.events(s, d))
        .orderBy("click_id")
    },

    "t_entropy" -> { (s, d) =>
      // token-distribution Shannon entropy per doc (order-pinned
      // left fold so the doubles match DuckDB bit-for-bit)
      text.TextAnalysis.entropy(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    "d_dsir" -> { (s, d) =>
      // DSIR importance weights: target domain = English slice,
      // raw = whole corpus
      text.Retrieval.dsirWeights(Tables.documents(s, d), "doc_id",
          "text", col("lang") === "en")
        .orderBy("doc_id")
    },

    "t_heavyhitters" -> { (s, d) =>
      // Space-Saving top-25 tokens (bounded-memory one-pass; this
      // corpus runs in the no-eviction regime where the summary is
      // provably exact — err_bound 0 — so the oracle is exact counts;
      // the eviction-regime error bound is pinned in TextSpec)
      text.HeavyHitters.topTokens(Tables.documents(s, d), "text", k = 25)
    },

    "t_cms" -> { (s, d) =>
      // Count-Min point estimates for 10 fixed probe tokens — md5
      // buckets make the estimates exactly replayable even where
      // cells collide
      text.CountMin.estimate(Tables.documents(s, d), "text",
        CmsProbeTokens)
    },

    "s_trending" -> { (s, d) =>
      // daily trending: top-2 event types per calendar day by count,
      // produced by the custom TopKPerKeyExec (bounded heap per day,
      // no partition sort) — the same operator as q7_topk_native in
      // its streaming-analytics role
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.plans.TopK.perKey(daily, Seq("day"),
          Seq("n" -> false, "event_type" -> true), k = 2)
        .orderBy("day", "event_type")
    },

    "s_overlap_join" -> { (s, d) =>
      // interval×interval overlap: purchase influence windows
      // [t, t+24h) × click activity windows [t, t+2h) per user —
      // bucketed with the first-shared-bucket rule, so each
      // overlapping pair is emitted exactly once with NO dedup pass
      val ev = Tables.events(s, d)
      val dayUs = 86400000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("p_s"))
        .withColumn("p_e", col("p_s") + dayUs)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          unix_micros(col("ts")).as("c_s"))
        .withColumn("c_e", col("c_s") + 7200000000L)
      graft.operators.IntervalJoin.overlapBucketed(purchases, clicks,
          keyCols = Seq("user_id"), lStart = "p_s", lEnd = "p_e",
          rStart = "c_s", rEnd = "c_e", bucketWidthUs = dayUs)
        .groupBy("p_id", "user_id")
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy("p_id")
    },

    "s_funnel" -> { (s, d) =>
      // signup → click → purchase within 7 days of the signup
      Funnels.funnel(Tables.events(s, d),
          Seq("signup", "click", "purchase"), windowUs = 604800000000L)
        .orderBy("step")
    },

    "s_retention" -> { (s, d) =>
      Funnels.retentionWeekly(Tables.events(s, d))
        .orderBy("cohort_week", "week_offset")
    },

    "t_reservoir" -> { (s, d) =>
      // deterministic reservoir: EXACTLY k docs per source, chosen
      // as the k smallest md5(doc_id) — a keyed hash is a fixed
      // random permutation, so this is a uniform without-replacement
      // sample that is reproducible across runs and stable under
      // corpus growth (a new doc displaces at most one sampled doc,
      // like a true reservoir). Runs on the custom TopKPerKeyExec
      // physical operator: bounded heap per key, no per-group sort.
      // Complements t_sample (Bernoulli by rate = fraction-sized).
      val docs = Tables.documents(s, d)
        .withColumn("h", md5(col("doc_id").cast("string")))
      graft.plans.TopK.perKey(docs, Seq("source"),
          Seq("h" -> true, "doc_id" -> true), k = 5)
        .select(col("source"), col("doc_id"), col("h"))
        .orderBy("source", "doc_id")
    },

    "m_resize" -> { (s, d) =>
      Multimodal.resizePlan(Multimodal.decodeFeatures(
          Multimodal.attachMedia(Tables.documents(s, d))))
        .orderBy("doc_id")
    },

    "m_frame_sample" -> { (s, d) =>
      Multimodal.frameSample(Multimodal.decodeFeatures(
          Multimodal.attachMedia(Tables.documents(s, d))))
        .orderBy("doc_id", "frame_idx")
    },

    "s_session_stats" -> { (s, d) =>
      EventStreams.sessionStatsBatch(Tables.events(s, d))
        .orderBy("user_id", "session_seq")
    },

    "t_perplexity2" -> { (s, d) =>
      TextRetrieval.bigramPerplexity(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_perplexity3" -> { (s, d) =>
      // interpolated trigram LM (Jelinek-Mercer): λ = (0.6, 0.3, 0.1)
      TextRetrieval.trigramPerplexity(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    "s_dau_wau" -> { (s, d) =>
      Funnels.dauWau(Tables.events(s, d)).orderBy("day")
    },

    "t_cdc_chunks" -> { (s, d) =>
      Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx")
    },

    "s_anomaly" -> { (s, d) =>
      Funnels.anomalies(Tables.events(s, d)).orderBy("event_id")
    },

    "d_decontaminate_bloom" -> { (s, d) =>
      // rows-only (bloom hash internal): superset-of-exact pinned in
      // EventAnalyticsSpec, exact flags in d_decontaminate's oracle
      Dedup.crossSplitContaminationBloom(Tables.documents(s, d),
          "doc_id", "text", n = 8,
          prebuiltBloom = Some(trainBloom(s, d)))
        .orderBy("doc_id")
    },

    "t_collocations" -> { (s, d) =>
      // PMI collocation mining: the corpus's most associated adjacent
      // word pairs (phrase/vocab discovery)
      TextRetrieval.collocations(Tables.documents(s, d), "doc_id", "text",
        minCount = 5, k = 100)
    },

    "t_winnow" -> { (s, d) =>
      // winnowing (MOSS) fingerprint selection: min-hash per sliding
      // gram window, ties rightmost
      TextAnalysis.winnow(Tables.documents(s, d), "doc_id", "text",
        k = 3, w = 4)
    },

    "s_interarrival" -> { (s, d) =>
      EventStreams.interArrivalBatch(Tables.events(s, d))
        .orderBy("event_type")
    },

    "t_bpe" -> { (s, d) =>
      // BPE merge learning — exact oracle: the greedy chain is
      // deterministic (count DESC, left/right ASC ties) and replayed
      // in DuckDB as 20 chained CTE stages (see bpeWithChain); the
      // corpus-scale work is the word-frequency shuffle, the loop
      // runs on the vocabulary-sized model. BpeSpec pins
      // hand-computed merges on a toy corpus.
      text.Bpe.learnMerges(Tables.documents(s, d), "text", nMerges = 20)
        .orderBy("step")
    },

    "t_bpe_encode" -> { (s, d) =>
      // learn → apply round trip: tokenize the corpus with its own
      // 20-merge table (exact oracle: the same CTE merge chain,
      // applied per distinct word and joined back onto the docs; the
      // spec hand-computes encodings and the train-corpus identity)
      val docs = Tables.documents(s, d)
      val merges = text.Bpe.learnMerges(docs, "text", nMerges = 20)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      text.Bpe.encode(docs, "doc_id", "text", merges).orderBy("doc_id")
    },

    "m_audio_energy" -> { (s, d) =>
      Multimodal.audioEnergy(Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id", "win_idx")
    },

    "m_scenecut" -> { (s, d) =>
      Multimodal.sceneCuts(Multimodal.attachMedia(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx")
    },

    "m_vad" -> { (s, d) =>
      // voice-activity segments over the audio-energy windows:
      // threshold at 1.6M (≈ mean byte² ~6.2k/byte over a full
      // window — ASCII text sits ~2.3M, so segments are real splits)
      Multimodal.vadSegments(
        Multimodal.audioEnergy(
          Multimodal.attachMedia(Tables.documents(s, d))),
        threshold = 1600000L)
        .orderBy("doc_id", "seg_idx")
    },

    "t_classify" -> { (s, d) =>
      // hashed linear quality classifier (fastText-shaped plumbing)
      text.TextAnalysis.linearClassify(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    "t_tfidf" -> { (s, d) =>
      // top-3 TF-IDF terms per doc (term ranking; BM25's dual)
      text.TextAnalysis.tfidfTopTerms(
        Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rk")
    },

    "s_watermark_late" -> { (s, d) =>
      EventStreams.watermarkLateBatch(Tables.events(s, d))
        .orderBy("event_type")
    },

    "e_mmr" -> { (s, d) =>
      // MMR diversified retrieval: top-10 for query vector 0 from a
      // 50-candidate pool, λ=0.7 (0.3 spelled as its own literal —
      // 1−0.7 is a DIFFERENT double and would break the oracle)
      val emb = Tables.embeddings(s, d)
      Knn.mmrTopK(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", dim, k = 10, candK = 50,
        lambda = 0.7, oneMinusLambda = 0.3)
    },

    "s_rfm" -> { (s, d) =>
      // RFM user segmentation over the event stream: recency (days
      // since last activity, exact integer µs arithmetic), frequency,
      // monetary (exact-decimal sum → double), quartiled into 4×4×4
      // segments. The global-max timestamp is a single-row broadcast;
      // the ntile windows run on the USER-level frame — orders of
      // magnitude smaller than the events scan (the winner-set scale
      // class; at billions of users, replace ntile with approx
      // quantile cutoffs). Total window orders (metric, user_id) make
      // every bucket engine-deterministic.
      import org.apache.spark.sql.expressions.Window
      val dayUs = 86400000000L
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("freq"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("monetary"),
          max(unix_micros(col("ts"))).as("umax"))
      val gmax = perUser.agg(max(col("umax")).as("gmax"))
      val rb = Window.orderBy(col("recency_days"), col("user_id"))
      val fb = Window.orderBy(col("freq").desc, col("user_id"))
      val mb = Window.orderBy(col("monetary").desc, col("user_id"))
      perUser.crossJoin(broadcast(gmax))
        .withColumn("recency_days",
          expr(s"(gmax - umax) DIV $dayUs"))
        .withColumn("r_bucket", ntile(4).over(rb))
        .withColumn("f_bucket", ntile(4).over(fb))
        .withColumn("m_bucket", ntile(4).over(mb))
        .select(col("user_id"), col("recency_days"), col("freq"),
          col("monetary"), col("r_bucket"), col("f_bucket"), col("m_bucket"),
          concat_ws("-", col("r_bucket"), col("f_bucket"), col("m_bucket"))
            .as("segment"))
        .orderBy("user_id")
    }
  )

  /** DuckDB replay of the BPE merge chain — the learn step is fully
    * deterministic (best pair = count DESC, left ASC, right ASC; all
    * string comparisons ASCII), so the whole N-step argmax chain is
    * SQL-expressible as N chained CTE stages, flipping t_bpe /
    * t_bpe_encode from rows-only to exact oracles.
    *
    * Representation: a word's symbol sequence is rendered as
    * `\x02sym\x03` per symbol, concatenated. With every symbol fully
    * wrapped (no shared delimiter), one SQL `replace(s, pattern,
    * replacement)` — left-to-right, non-overlapping, continuing
    * after each insertion — is EXACTLY one BPE merge applied to all
    * occurrences (Sennrich's rule), and no pattern can match across
    * or inside a symbol boundary. Pair counts come from an unnest
    * over adjacent positions of the split-back symbol list
    * (overlapping pairs counted, like the trainer). `AS MATERIALIZED`
    * is load-bearing: each stage references its predecessor twice
    * (count + apply), and an inlining CTE planner would expand the
    * 20-stage chain exponentially (measured: minutes vs ~1 s). */
  private val bpeMerges = 20

  private val bpeWithChain: String = {
    val sep = "chr(3) || chr(2)"
    val head = Seq(
      """wf AS (
         SELECT w, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE len(w) > 0 GROUP BY w)""",
      s"""w0 AS MATERIALIZED (
         SELECT w, n,
           chr(2) || array_to_string(list_transform(range(1, length(w) + 1),
             i -> substring(w, i, 1)), $sep)
           || chr(3) || chr(2) || '</w>' || chr(3) AS s
         FROM wf)""")
    val stages = (1 to bpeMerges).flatMap { k =>
      val p = k - 1
      Seq(
        s"""c$k AS MATERIALIZED (
           SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(n) AS BIGINT) AS cnt
           FROM (SELECT syms, n, unnest(range(1, len(syms))) AS i
                 FROM (SELECT string_split(trim(s, chr(2) || chr(3)),
                         $sep) AS syms, n FROM w$p))
           GROUP BY l, r)""",
        s"""b$k AS MATERIALIZED (
           SELECT l, r, cnt FROM c$k ORDER BY cnt DESC, l, r LIMIT 1)""",
        // bx carries EXACTLY one row even when merges exhaust before
        // step $bpeMerges (b empty would cross-join w to zero rows and
        // silently empty the whole remaining chain): the chr(1)
        // sentinel can never appear as a symbol, so its replace is a
        // no-op carry — the same degrade-to-identity the trainer has
        s"""bx$k AS MATERIALIZED (
           SELECT l, r FROM b$k
           UNION ALL
           SELECT chr(1), chr(1)
           WHERE NOT EXISTS (SELECT 1 FROM b$k))""",
        s"""w$k AS MATERIALIZED (
           SELECT w, n, replace(s,
             chr(2) || b.l || chr(3) || chr(2) || b.r || chr(3),
             chr(2) || b.l || b.r || chr(3)) AS s
           FROM w$p, bx$k b)""")
    }
    "WITH " + (head ++ stages).mkString(",\n")
  }

  private val bpeLearnSql: String = {
    val union = (1 to bpeMerges).map { k =>
      s"""SELECT CAST($k AS INT) AS step, l AS "left", r AS "right",
          cnt AS pair_count, l || r AS merged FROM b$k"""
    }.mkString(" UNION ALL ")
    s"$bpeWithChain\nSELECT * FROM ($union) ORDER BY step"
  }

  private val bpeEncodeSql: String =
    s"""$bpeWithChain,
       tok AS MATERIALIZED (
         SELECT w, length(s) - length(replace(s, chr(3), '')) AS cnt
         FROM w$bpeMerges)
       SELECT d.doc_id, count(*) AS n_words,
         CAST(sum(t.cnt) AS BIGINT) AS n_bpe_tokens
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents) d
       JOIN tok t USING (w)
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  def oracles: Map[String, String] = Map(
    "t_bpe" -> bpeLearnSql,
    "t_bpe_encode" -> bpeEncodeSql,
    // replays SimHash64Expr's md5-derived bit family: bit b of a
    // token hash = bit (b%4) of hex digit (b/4) of md5(token),
    // extracted via strpos digit masks; signatures as 64-char
    // bitstrings, 4x16-bit banding = substr blocks, hamming =
    // differing positions. Validated against an independent Python
    // md5 reference before wiring (193 pairs at sf0.01).
    "d_dedup_simhash" ->
      """WITH hx AS (
           SELECT doc_id, md5(unnest(string_split(text, ' '))) AS hex
           FROM documents),
         bits AS (
           SELECT doc_id, g.b,
             CASE WHEN 2 * sum(CASE WHEN strpos(
                 CASE g.b % 4 WHEN 0 THEN '13579bdf' WHEN 1 THEN '2367abef'
                      WHEN 2 THEN '4567cdef' ELSE '89abcdef' END,
                 substr(hex, (g.b // 4) + 1, 1)) > 0 THEN 1 ELSE 0 END)
               > count(*) THEN 1 ELSE 0 END AS bit
           FROM hx CROSS JOIN generate_series(0, 63) g(b)
           GROUP BY doc_id, g.b),
         sig AS (
           SELECT doc_id, string_agg(bit::VARCHAR, '' ORDER BY b) AS bs
           FROM bits GROUP BY doc_id),
         banded AS (
           SELECT doc_id, band, substr(bs, band * 16 + 1, 16) AS block, bs
           FROM sig CROSS JOIN generate_series(0, 3) t(band)),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.bs AS xb, y.bs AS yb
           FROM banded x JOIN banded y
             ON x.band = y.band AND x.block = y.block AND x.doc_id < y.doc_id)
         SELECT a, b,
           CAST(len(list_filter(range(1, 65),
             i -> substr(xb, i, 1) <> substr(yb, i, 1))) AS INT) AS hamming
         FROM cand
         WHERE len(list_filter(range(1, 65),
           i -> substr(xb, i, 1) <> substr(yb, i, 1))) <= 8
         ORDER BY a, b""",
    "d_dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
         count(*) AS n_copies, min(doc_id) AS keeper
         FROM documents GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    "d_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                    FROM documents)
         SELECT x.doc_id AS a, y.doc_id AS b,
           round(len(list_intersect(x.toks, y.toks))::DOUBLE
                 / len(list_distinct(list_concat(x.toks, y.toks))), 4) AS j
         FROM t x JOIN t y ON y.doc_id = x.doc_id + 1
         WHERE round(len(list_intersect(x.toks, y.toks))::DOUBLE
                 / len(list_distinct(list_concat(x.toks, y.toks))), 4) >= 0.5
         ORDER BY a""",
    // list_intersect twice mirrors the Spark side's two divisions on
    // the same integer intersection; filter on the ROUNDED values
    "d_containment" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                    FROM documents),
         p AS (SELECT x.doc_id AS a, y.doc_id AS b,
                 len(list_intersect(x.toks, y.toks)) AS n_common,
                 round(len(list_intersect(x.toks, y.toks))::DOUBLE
                   / len(x.toks), 4) AS c_ab,
                 round(len(list_intersect(x.toks, y.toks))::DOUBLE
                   / len(y.toks), 4) AS c_ba
               FROM t x JOIN t y ON y.doc_id = x.doc_id + 1)
         SELECT a, b, CAST(n_common AS INT) AS n_common, c_ab, c_ba
         FROM p WHERE c_ab >= 0.8 OR c_ba >= 0.8 ORDER BY a""",
    "d_jaccard_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE doc_id <= 200),
         g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gr
               FROM t)
         SELECT x.doc_id AS a, y.doc_id AS b,
           round(len(list_intersect(x.gr, y.gr))::DOUBLE
                 / len(list_distinct(list_concat(x.gr, y.gr))), 4) AS j
         FROM g x JOIN g y ON y.doc_id = x.doc_id + 1
         ORDER BY a""",
    "d_neardup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
         SELECT x.vec_id AS a, y.vec_id AS b,
           round(
             list_sum(list_transform(range(1, 65),
               i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)))), 4) AS sim
         FROM e x JOIN e y ON x.vec_id < y.vec_id
         WHERE list_sum(list_transform(range(1, 65),
               i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))))
               >= 0.35
         ORDER BY a, b""",
    "e_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                    WHERE vec_id < 10),
         sims AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS sim
           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, neighbor_id) AS rk
           FROM sims)
         SELECT query_id, neighbor_id, rk, round(sim, 4) AS sim
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // the filter rides the join predicate, then brute cosine within
    // the label slice — same sim formula as e_knn_brute
    "e_knn_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
                    FROM embeddings WHERE vec_id < 10),
         sims AS (
           SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
             list_sum(list_transform(range(1, 65),
               i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))
               AS sim
           FROM embeddings e JOIN q
             ON e.label = q.label AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, label, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, neighbor_id) AS rk
           FROM sims)
         SELECT query_id, neighbor_id, label, rk, round(sim, 4) AS sim
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // replays the full SQ pipeline: normalize by the index-ordered
    // IEEE norm, floor(+0.5) onto the signed 127 grid, integer ADC
    // shortlist of 32 (ties broken on neighbor_id), exact cosine
    // re-rank — code-for-code the Spark path
    "e_knn_sq" ->
      """WITH codes AS (SELECT vec_id,
             list_transform(range(1, 65),
               i -> CAST(floor(embedding[i]::DOUBLE
                    / sqrt(list_sum(list_transform(range(1, 65),
                        j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)))
                    * 127 + 0.5) AS INT)) AS code
           FROM embeddings),
         adc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> q.code[i]::BIGINT * c.code[i])) AS adc
           FROM codes c CROSS JOIN (SELECT * FROM codes WHERE vec_id < 10) q
           WHERE c.vec_id <> q.vec_id),
         cand AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc DESC, neighbor_id) AS rka
           FROM adc),
         sims AS (SELECT cand.query_id, cand.neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> qe.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> qe.embedding[i]::DOUBLE * qe.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> ce.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))))
               AS sim
           FROM cand
           JOIN embeddings qe ON qe.vec_id = cand.query_id
           JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
           WHERE cand.rka <= 32),
         ranked AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, neighbor_id) AS rk
           FROM sims)
         SELECT query_id, neighbor_id, rk, round(sim, 4) AS sim
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // replays the sign-LSH pipeline code-for-code: hyperplane cell
    // (j, i) sign = parity of the first hex digit of
    // md5('lsh:<seed>:<j>:<i>') — the same strings Knn.hyperplanes
    // hashes driver-side (seed 7 is lshBucket's default family).
    // Bucket = sum of 2^j over positive dots, single-probe join,
    // exact cosine re-rank
    "e_knn_lsh" ->
      """WITH hp AS (
           SELECT t1.j, t2.i,
             CASE WHEN strpos('13579bdf', substring(md5(
                 'lsh:7:' || t1.j::VARCHAR || ':' || t2.i::VARCHAR), 1, 1)) > 0
               THEN 1.0 ELSE -1.0 END AS s
           FROM range(0, 8) t1(j), range(0, 64) t2(i)),
         dots AS (
           SELECT e.vec_id, hp.j,
             sum(e.embedding[hp.i + 1]::DOUBLE * hp.s) AS dj
           FROM embeddings e, hp GROUP BY e.vec_id, hp.j),
         b AS (
           SELECT vec_id,
             sum(CASE WHEN dj > 0 THEN 1 << j ELSE 0 END) AS bucket
           FROM dots GROUP BY vec_id),
         sims AS (
           SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> qe.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> qe.embedding[i]::DOUBLE * qe.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> ce.embedding[i]::DOUBLE * ce.embedding[i]::DOUBLE))))
               AS sim
           FROM b qb
           JOIN b cb ON cb.bucket = qb.bucket AND cb.vec_id <> qb.vec_id
           JOIN embeddings qe ON qe.vec_id = qb.vec_id
           JOIN embeddings ce ON ce.vec_id = cb.vec_id
           WHERE qb.vec_id < 10),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, neighbor_id) AS rk
           FROM sims)
         SELECT query_id, neighbor_id, rk, round(sim, 4) AS sim
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // the banded variant: 12 independent md5 hyperplane families
    // (band b's seed = 1000003*(b+1), Knn.lshBucketSeeded), bits
    // scaled to the corpus exactly like the Spark path
    // (min(16, max(3, ceil(log2(n/256)))) at bitsPerBand=3), buckets
    // over 500 dropped, candidates distinct, exact cosine >= 0.35
    "d_neardup_lsh" ->
      """WITH geo AS (
           -- integer ceil-log2, mirroring Knn.nearDupPairsLsh exactly:
           -- ceil(ln/ln) risks a 1-ulp libm disagreement with the JVM
           -- at power-of-two corpus sizes, which would flip bits by
           -- one and diverge every bucket
           SELECT least(16, greatest(3, CAST(min(s.b) AS INT))) AS bits
           FROM (SELECT ((count(*) + 255) // 256) AS cells
                 FROM embeddings) c, range(0, 33) s(b)
           WHERE (CAST(1 AS BIGINT) << s.b) >= c.cells),
         hp AS (
           SELECT bd.band, t1.j, t2.i,
             CASE WHEN strpos('13579bdf', substring(md5(
                 'lsh:' || (1000003 * (bd.band + 1))::VARCHAR || ':'
                   || t1.j::VARCHAR || ':' || t2.i::VARCHAR), 1, 1)) > 0
               THEN 1.0 ELSE -1.0 END AS s
           FROM range(0, 12) bd(band), range(0, 16) t1(j),
                range(0, 64) t2(i), geo
           WHERE t1.j < geo.bits),
         dots AS (
           SELECT e.vec_id, hp.band, hp.j,
             sum(e.embedding[hp.i + 1]::DOUBLE * hp.s) AS dj
           FROM embeddings e, hp GROUP BY e.vec_id, hp.band, hp.j),
         bk AS (
           SELECT vec_id, band,
             sum(CASE WHEN dj > 0 THEN 1 << j ELSE 0 END) AS bucket
           FROM dots GROUP BY vec_id, band),
         ok AS (SELECT band, bucket FROM bk
                GROUP BY band, bucket HAVING count(*) <= 500),
         pruned AS (SELECT bk.* FROM bk JOIN ok USING (band, bucket)),
         cand AS (
           SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM pruned x JOIN pruned y
             ON y.band = x.band AND y.bucket = x.bucket
               AND x.vec_id < y.vec_id),
         sims AS (
           SELECT cand.a, cand.b,
             list_sum(list_transform(range(1, 65),
               i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> ea.embedding[i]::DOUBLE * ea.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))))
               AS sim
           FROM cand
           JOIN embeddings ea ON ea.vec_id = cand.a
           JOIN embeddings eb ON eb.vec_id = cand.b)
         SELECT a, b, round(sim, 4) AS sim FROM sims
         WHERE sim >= 0.35 ORDER BY a, b""",
    "t_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_re_tokens,
         length(text) AS n_chars
         FROM documents ORDER BY doc_id""",
    "d_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(t) - 6),
                   i -> array_to_string(t[i:i+7], ' '))) AS grams
               FROM toks WHERE len(t) >= 8),
         sp AS (SELECT doc_id,
                  CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'cc'
                       THEN 'train' ELSE 'eval' END AS split
                FROM documents),
         traing AS (SELECT DISTINCT unnest(grams) AS gram
                    FROM g JOIN sp USING (doc_id) WHERE split = 'train'),
         testg AS (SELECT doc_id, unnest(grams) AS gram
                   FROM g JOIN sp USING (doc_id) WHERE split <> 'train')
         SELECT doc_id, count(*) AS n_shared
         FROM testg JOIN traing USING (gram)
         GROUP BY doc_id ORDER BY doc_id""",
    "t_vocab" ->
      """SELECT t AS token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         GROUP BY t ORDER BY n DESC, token LIMIT 200""",
    "t_split" ->
      """SELECT doc_id,
         CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
              WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    // replays the deterministic contact header, then counts and
    // scrubs with the SAME regex strings (Java/RE2 shared subset);
    // DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all semantics
    "t_pii_redact" ->
      """WITH p AS (SELECT doc_id,
           'contact user' || CAST(doc_id AS VARCHAR) || '@' || source || '.org ' ||
           CASE WHEN doc_id % 2 = 0 THEN
             'call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
             '-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') || ' '
           ELSE '' END ||
           CASE WHEN doc_id % 3 = 0 THEN
             'host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
             CAST(doc_id * 3 % 256 AS VARCHAR) || '.1 '
           ELSE '' END || text AS text
         FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phones,
           len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS clean_fp
         FROM p ORDER BY doc_id""",
    // grams WITH multiplicity: list slice toks[i+1:i+2] truncates at
    // the end exactly like Spark's concat_ws over try_element_at
    "t_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_transform(range(0, greatest(len(toks) - 2, 0) + 1),
                   i -> array_to_string(toks[i+1:i+2], ' '))) AS gram
               FROM t),
         c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams, count(*) AS n_distinct,
           round(1 - count(*)::DOUBLE / sum(n), 4) AS dup_frac,
           round(max(n)::DOUBLE / sum(n), 4) AS top_frac
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    // printf('%04x', …) renders the same fixed-width lowercase hex
    // cutoff as Spark's format_string, so the string comparison
    // against the md5 prefix is identical on both engines
    "t_sample" ->
      """SELECT doc_id, source,
           round((CAST(substr(source, 4, 10) AS INT) % 4 + 1) / 4.0, 2) AS rate
         FROM documents
         WHERE (CAST(substr(source, 4, 10) AS INT) % 4 + 1) / 4.0 >= 1.0
            OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
               printf('%04x', CAST(floor((CAST(substr(source, 4, 10) AS INT) % 4 + 1) / 4.0 * 65536) AS INT))
         ORDER BY doc_id""",
    // centroids quantized at 6 decimals on both engines before the
    // cosine, so cross-engine float-sum order can't flip the 4-decimal
    // output rounding; ties broken toward the smallest label
    "e_cluster_assign" ->
      """WITH u AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
                    FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         c AS (SELECT label AS c_label, list(round(cv, 6) ORDER BY i) AS centroid
               FROM u GROUP BY label),
         s AS (SELECT e.vec_id, e.label, c.c_label,
                 list_sum(list_transform(range(1, 65),
                   i -> e.embedding[i]::DOUBLE * c.centroid[i]))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(range(1, 65),
                      i -> c.centroid[i] * c.centroid[i])))) AS sim
               FROM embeddings e CROSS JOIN c),
         r AS (SELECT vec_id, label, c_label AS assigned_label, sim,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rk
               FROM s)
         SELECT vec_id, label, assigned_label, round(sim, 4) AS sim
         FROM r WHERE rk = 1 ORDER BY vec_id""",
    // same centroid/assignment replay as e_cluster_assign, then the
    // cluster-LOCAL pair join (y.cl = x.cl) — cross-cluster pairs are
    // never enumerated, exactly like the Spark side
    "d_semdedup" ->
      """WITH u AS (SELECT label, i, avg(embedding[i]::DOUBLE) AS cv
                    FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
         c AS (SELECT label AS c_label, list(round(cv, 6) ORDER BY i) AS centroid
               FROM u GROUP BY label),
         s AS (SELECT e.vec_id, c.c_label,
                 list_sum(list_transform(range(1, 65),
                   i -> e.embedding[i]::DOUBLE * c.centroid[i]))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(range(1, 65),
                      i -> c.centroid[i] * c.centroid[i])))) AS sim
               FROM embeddings e CROSS JOIN c),
         r AS (SELECT vec_id, c_label,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, c_label) AS rk
               FROM s),
         asg AS (SELECT vec_id, c_label AS cl FROM r WHERE rk = 1),
         e2 AS (SELECT e.vec_id, e.embedding, a.cl,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
                    AS nm
                FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
         p AS (SELECT x.cl, x.vec_id AS a, y.vec_id AS b,
                 list_sum(list_transform(range(1, 65),
                   i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
                 / (x.nm * y.nm) AS sim
               FROM e2 x JOIN e2 y ON y.cl = x.cl AND y.vec_id < x.vec_id)
         SELECT a AS vec_id, cl AS cluster, min(b) AS dup_of,
           round(min_by(sim, b), 4) AS sim
         FROM p WHERE sim >= 0.35 GROUP BY a, cl ORDER BY vec_id""",
    // rate replayed UNROUNDED in the keep decision (floor × 65536 is
    // exact in doubles), rounded only in the output — same as t_sample
    "t_mixture" ->
      """WITH t AS (SELECT doc_id, source,
                      len(string_split(text, ' ')) AS n_toks
                    FROM documents),
         r AS (SELECT source,
                 least(1.0, 1300.0 / CAST(sum(n_toks) AS DOUBLE)) AS rate
               FROM t GROUP BY source)
         SELECT t.doc_id, t.source, t.n_toks, round(r.rate, 4) AS rate
         FROM t JOIN r ON r.source = t.source
         WHERE r.rate >= 1.0
            OR substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) <
               printf('%04x', CAST(floor(r.rate * 65536) AS INT))
         ORDER BY doc_id""",
    "t_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
                 greatest(1, ceil((len(toks) - 10)::DOUBLE / 30)::INT) AS nc
               FROM t)
         SELECT doc_id, i AS chunk_id,
           array_to_string(toks[(i*30+1)::BIGINT : (i*30+40)::BIGINT], ' ') AS chunk_text,
           len(toks[(i*30+1)::BIGINT : (i*30+40)::BIGINT]) AS n_tokens
         FROM c, unnest(range(0, nc)) AS u(i)
         ORDER BY doc_id, chunk_id""",
    "t_quality" ->
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
             string_split(text, ' ') AS toks FROM documents)
         SELECT doc_id, n_chars, len(toks) AS n_tokens,
           round((n_chars - (len(toks) - 1))::DOUBLE / len(toks), 4)
             AS avg_token_len,
           round(len(list_filter(toks, x -> x IN
             ('the','a','of','to','and','in','is','that')))::DOUBLE
             / len(toks), 4) AS stopword_ratio
         FROM t ORDER BY doc_id""",
    // rolling polynomial fingerprint, replayed exactly: token hash =
    // first 32 md5 bits (hex-literal cast), fold = (acc*1000003 + h)
    // masked to 32 bits — all BIGINT-exact, no wrapping needed
    "t_fingerprint" ->
      """SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(string_split(text, ' '),
               t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)),
           (a, b) -> (a * 1000003 + b) & 4294967295) AS fp
         FROM documents ORDER BY doc_id""",
    // argmax over per-language stopword ratios; the CASE chain breaks
    // score ties toward the lexicographically greatest language code,
    // exactly like Spark's greatest() over (score, lang) structs
    "t_langid" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         s AS (SELECT doc_id,
           round(len(list_filter(toks, x -> x IN
             ('der','die','das','und','in','ein','ist','zu')))::DOUBLE
             / len(toks), 6) AS s_de,
           round(len(list_filter(toks, x -> x IN
             ('the','a','of','to','and','in','is','that')))::DOUBLE
             / len(toks), 6) AS s_en,
           round(len(list_filter(toks, x -> x IN
             ('el','la','de','que','y','en','un','es')))::DOUBLE
             / len(toks), 6) AS s_es,
           round(len(list_filter(toks, x -> x IN
             ('le','la','de','et','un','en','est','que')))::DOUBLE
             / len(toks), 6) AS s_fr
           FROM t)
         SELECT doc_id,
           CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                WHEN s_en >= s_de THEN 'en'
                ELSE 'de' END AS pred_lang,
           greatest(s_de, s_en, s_es, s_fr) AS score
         FROM s ORDER BY doc_id""",
    // the stub decode's exact arithmetic: payload = utf-8 text bytes,
    // so strlen(text) is n_bytes and md5(text) is md5(payload);
    // checksum = first 60 md5 bits (15 hex chars, always positive)
    "m_multimodal_meta" ->
      """SELECT doc_id, 'image/fake-' || lang AS media_type,
         strlen(text) AS n_bytes,
         16 + (strlen(text) % 64) AS width,
         16 + ((strlen(text) // 64) % 64) AS height,
         ('0x' || substring(md5(text), 1, 15))::BIGINT AS checksum
         FROM documents ORDER BY doc_id""",
    "s_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // session_window merges windows [t, t+gap): SAME session iff
    // gap < threshold — note `>=` for the new-session rule, one
    // boundary stricter than s_sessionize's `>` (the two operators'
    // documented difference); end = last event + gap
    "s_session_native" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus,
                      value FROM events),
         g AS (SELECT user_id, event_id, tus, value,
                 CASE WHEN lag(tus) OVER w IS NULL
                        OR tus - lag(tus) OVER w >= 1800000000
                      THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id
                                   ORDER BY tus, event_id)),
         s AS (SELECT user_id, tus, value,
                 sum(ns) OVER (PARTITION BY user_id
                   ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS seq
               FROM g)
         SELECT user_id,
           make_timestamp(min(tus)) AS session_start,
           make_timestamp(max(tus) + 1800000000) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, seq
         ORDER BY user_id, session_start""",
    // tus = epoch_ns // 1000 (floor) matches Spark's `ts div 1000`
    // µs truncation exactly on ANY DuckDB version: 1.0 reads the ns
    // parquet column as µs TIMESTAMP (epoch_ns = µs*1000, //1000 is
    // identity), newer versions keep TIMESTAMP_NS (//1000 truncates
    // like Spark). Ordering + gap both use tus so sub-µs digits can
    // never flip a tie-break or a `> 30min` boundary.
    "s_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus
                    FROM events)
         SELECT user_id, event_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         FROM (
           SELECT user_id, event_id, tus,
             CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                    IS NULL THEN 1
                  WHEN tus - lag(tus) OVER (PARTITION BY user_id
                    ORDER BY tus, event_id) > 1800000000 THEN 1
                  ELSE 0 END AS new_session
           FROM e)
         ORDER BY user_id, event_id""",
    // day-last row picked by an explicit row_number (no unspecified
    // agg tie order), calendar from per-user generate_series,
    // forward-fill via last_value IGNORE NULLS — values carried
    // verbatim, no arithmetic to drift
    "s_gap_fill" ->
      """WITH e AS (SELECT user_id, event_id, value,
                      epoch_ns(ts) // 1000 AS tus, CAST(ts AS DATE) AS day
                    FROM events WHERE user_id < 100),
         dl AS (SELECT user_id, day, value FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id, day
                    ORDER BY tus DESC, event_id DESC) AS rn
                  FROM e)
                WHERE rn = 1),
         span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                  FROM dl GROUP BY 1),
         cal AS (SELECT user_id,
                   unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                     AS day
                 FROM span)
         SELECT cal.user_id, cal.day,
           last_value(dl.value IGNORE NULLS) OVER (
             PARTITION BY cal.user_id ORDER BY cal.day
             ROWS UNBOUNDED PRECEDING) AS value,
           dl.value IS NOT NULL AS observed
         FROM cal LEFT JOIN dl
           ON cal.user_id = dl.user_id AND cal.day = dl.day
         ORDER BY cal.user_id, cal.day""",
    // same session assignment as s_sessionize, then step numbering,
    // ordered string_agg per session, path histogram, top 25
    "s_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                      epoch_ns(ts) // 1000 AS tus FROM events),
         s AS (SELECT user_id, event_id, event_type, tus,
             sum(new_session) OVER (PARTITION BY user_id
               ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING)
               AS session_seq
           FROM (SELECT *,
               CASE WHEN lag(tus) OVER (PARTITION BY user_id
                      ORDER BY tus, event_id) IS NULL THEN 1
                    WHEN tus - lag(tus) OVER (PARTITION BY user_id
                      ORDER BY tus, event_id) > 1800000000 THEN 1
                    ELSE 0 END AS new_session
             FROM e)),
         st AS (SELECT user_id, session_seq, event_type,
             row_number() OVER (PARTITION BY user_id, session_seq
               ORDER BY tus, event_id) AS step
           FROM s),
         p AS (SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY step) AS path
           FROM st WHERE step <= 5 GROUP BY 1, 2)
         SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 25""",
    // replays the union-merge as-of join exactly: side 0 = build
    // sorts before side 1 = probe at equal (µs-truncated) ts, so an
    // exactly-simultaneous purchase IS visible to the click; equal-ts
    // purchases tie-break on greatest event_id via `tie` ascending +
    // last_value. tus = epoch_ns // 1000 like s_sessionize.
    "s_asof_join" ->
      """WITH u AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tus, 1 AS side,
                  NULL::BIGINT AS tie, NULL::BIGINT AS v_eid,
                  NULL::DOUBLE AS v_value, event_id
           FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, epoch_ns(ts) // 1000, 0,
                  event_id, event_id, value, NULL
           FROM events WHERE event_type = 'purchase'),
         a AS (
           SELECT event_id, user_id, side,
             last_value(v_eid IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side, tie
               ROWS UNBOUNDED PRECEDING) AS asof_event_id,
             last_value(v_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side, tie
               ROWS UNBOUNDED PRECEDING) AS asof_value
           FROM u)
         SELECT event_id, user_id, asof_event_id,
           round(asof_value, 4) AS asof_value
         FROM a WHERE side = 1 ORDER BY event_id""",
    // the bucketing is purely an acceleration, so the oracle is the
    // plain inequality join on µs-truncated timestamps
    "s_interval_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
                      epoch_ns(ts) // 1000 AS tus
                    FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus
               FROM events WHERE event_type = 'click')
         SELECT p.p_id, p.user_id, count(*) AS n_clicks
         FROM p JOIN c ON c.user_id = p.user_id
           AND c.tus >= p.tus AND c.tus < p.tus + 86400000000
         GROUP BY p.p_id, p.user_id ORDER BY p.p_id""",
    // constants spelled as the same IEEE operations Spark runs
    // ((1.2 + 1), (1 - 0.75)) — a pre-folded 2.2 literal is a
    // different double than 1.2 + 1
    "t_bm25" ->
      """WITH w AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
           len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf0,
           len(list_filter(string_split(text, ' '), x -> x = 'join')) AS tf1,
           len(list_filter(string_split(text, ' '), x -> x = 'stream')) AS tf2
         FROM documents),
         g AS (SELECT count(*) AS n, avg(dl) AS avgdl,
           sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM w),
         s AS (SELECT doc_id,
             ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * (1.2 + 1))
               / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
           + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * (1.2 + 1))
               / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
           + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * (1.2 + 1))
               / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)) AS score
         FROM w, g)
         SELECT doc_id, round(score, 4) AS bm25 FROM s
         ORDER BY round(score, 4) DESC, doc_id LIMIT 25""",
    // same per-list orderings as the t_bm25 / e_knn_brute oracles;
    // 1.0::DOUBLE keeps DuckDB out of DECIMAL division (Spark's
    // lit(1.0) is a double)
    "e_hybrid_rrf" ->
      """WITH w AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
           len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf0,
           len(list_filter(string_split(text, ' '), x -> x = 'join')) AS tf1,
           len(list_filter(string_split(text, ' '), x -> x = 'stream')) AS tf2
         FROM documents),
         g AS (SELECT count(*) AS n, avg(dl) AS avgdl,
           sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM w),
         s AS (SELECT doc_id,
             ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * (1.2 + 1))
               / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
           + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * (1.2 + 1))
               / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
           + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * (1.2 + 1))
               / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)) AS score
         FROM w, g),
         lex AS (SELECT doc_id AS id,
             CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id)
               AS BIGINT) AS rk_lex
           FROM s ORDER BY round(score, 4) DESC, doc_id LIMIT 50),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         sims AS (SELECT e.vec_id AS id,
             list_sum(list_transform(range(1, 65),
               i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS sim
           FROM embeddings e, q WHERE e.vec_id <> 0),
         sem AS (SELECT id,
             CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rk_sem
           FROM sims ORDER BY sim DESC, id LIMIT 50),
         f AS (SELECT coalesce(lex.id, sem.id) AS id,
             round(coalesce(1.0::DOUBLE / (60 + rk_lex), 0.0)
               + coalesce(1.0::DOUBLE / (60 + rk_sem), 0.0), 6) AS rrf,
             rk_lex, rk_sem
           FROM lex FULL OUTER JOIN sem ON lex.id = sem.id)
         SELECT id, rrf, rk_lex, rk_sem FROM f ORDER BY rrf DESC, id LIMIT 25""",
    // chr(769) = U+0301 combining acute — the same decomposed synth;
    // DuckDB's nfc_normalize / strip_accents replay the JDK
    // Normalizer exactly on Latin text
    "t_normalize" ->
      """WITH p AS (SELECT doc_id, text,
           regexp_replace(text, 'a', 'a' || chr(769), 'g') AS s
         FROM documents)
         SELECT doc_id, md5(nfc_normalize(s)) AS nfc_fp,
           md5(strip_accents(s)) AS fold_fp,
           length(nfc_normalize(s)) < length(s) AS composed,
           strip_accents(s) = text AS fold_restores
         FROM p ORDER BY doc_id""",
    // the stub decode's 61 positional segments replayed with the same
    // floor((p-1)·61/n) split over ascii() of the characters (payloads
    // are the UTF-8 text bytes; ASCII); list_sum yields HUGEINT →
    // cast back to BIGINT
    "m_phash" ->
      """WITH ch AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
         h AS (SELECT doc_id,
                 list_transform(range(0, 61), i ->
                   list_sum(list_transform(range(1, len(cs) + 1), p ->
                     CASE WHEN (p - 1) * 61 // len(cs) = i
                          THEN ascii(cs[p]) ELSE 0 END))) AS seg
               FROM ch)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 60),
             i -> CASE WHEN seg[i+1] > seg[i+2]
                  THEN 1::BIGINT << (59 - i) ELSE 0 END)) AS BIGINT) AS phash
         FROM h ORDER BY doc_id""",
    "m_phash_dedup" ->
      """WITH ch AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
         h AS (SELECT doc_id,
                 list_transform(range(0, 61), i ->
                   list_sum(list_transform(range(1, len(cs) + 1), p ->
                     CASE WHEN (p - 1) * 61 // len(cs) = i
                          THEN ascii(cs[p]) ELSE 0 END))) AS seg
               FROM ch),
         p AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 60),
                   i -> CASE WHEN seg[i+1] > seg[i+2]
                        THEN 1::BIGINT << (59 - i) ELSE 0 END)) AS BIGINT)
                   AS phash
               FROM h),
         bb AS (SELECT doc_id, phash, band,
                  (phash >> (15 * band)) & 32767 AS block
                FROM p, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band) u),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                    CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
                  FROM bb x JOIN bb y ON x.band = y.band AND x.block = y.block
                    AND x.doc_id < y.doc_id)
         SELECT a, b, hamming FROM cand WHERE hamming <= 3 ORDER BY a, b""",
    // tf and df are integer counts; idf's ln is libm both sides with
    // round(6) absorbing last-ulp drift (perplexity precedent); rank
    // on the ROUNDED score, ties to the smaller token
    "t_tfidf" ->
      """WITH tf AS (SELECT doc_id, t AS token, count(*) AS tf
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                           FROM documents)
                     GROUP BY 1, 2),
         dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT doc_id, token, tf,
                 round(tf * ln(n_docs::DOUBLE / df::DOUBLE), 6) AS score
               FROM tf JOIN dfq USING (token), n),
         r AS (SELECT doc_id, token, tf, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, token) AS rk
               FROM s)
         SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score,
           CAST(rk AS INT) AS rk
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    // integer weight numerators summed exactly, one IEEE division on
    // identical operands, threshold on the ROUNDED score — same
    // contract as the Spark side
    "t_classify" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         s AS (SELECT doc_id, len(toks) AS n_tokens,
                 round(CAST(list_sum(list_transform(toks,
                     t -> ('0x' || substring(md5('w|' || t), 1, 8))::BIGINT
                          % 2001 - 1000)) AS DOUBLE)
                   / (CAST(len(toks) AS DOUBLE) * 1000.0), 6) AS score
               FROM t)
         SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, score,
           CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label
         FROM s ORDER BY doc_id""",
    // the fused pass replays each component oracle's expressions
    // verbatim (quality/gopher/langid/split/dedup_exact above), so a
    // drift in any fused column localizes to its standalone twin
    "t_curate" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                    FROM documents),
         f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
           length(text) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round((length(text) - (len(toks) - 1))::DOUBLE / len(toks), 4)
             AS avg_token_len,
           round(len(list_filter(toks, x -> x IN
             ('the','a','of','to','and','in','is','that')))::DOUBLE
             / len(toks), 4) AS stopword_ratio,
           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             / len(toks), 4) AS alpha_frac,
           round(len(list_filter(toks,
             x -> contains(x, '#') OR contains(x, '...')))::DOUBLE
             / len(toks), 4) AS symbol_frac,
           len(list_filter(toks, x -> x IN
             ('the','a','of','to','and','in','is','that'))) AS stop_hits,
           round(len(list_filter(toks, x -> x IN
             ('der','die','das','und','in','ein','ist','zu')))::DOUBLE
             / len(toks), 6) AS s_de,
           round(len(list_filter(toks, x -> x IN
             ('the','a','of','to','and','in','is','that')))::DOUBLE
             / len(toks), 6) AS s_en,
           round(len(list_filter(toks, x -> x IN
             ('el','la','de','que','y','en','un','es')))::DOUBLE
             / len(toks), 6) AS s_es,
           round(len(list_filter(toks, x -> x IN
             ('le','la','de','et','un','en','est','que')))::DOUBLE
             / len(toks), 6) AS s_fr,
           CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
                WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
           FROM t),
         g AS (SELECT *,
           min(doc_id) OVER (PARTITION BY fp) AS keeper,
           count(*) OVER (PARTITION BY fp) AS n_copies,
           CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                WHEN s_en >= s_de THEN 'en'
                ELSE 'de' END AS pred_lang,
           (n_tokens >= 50 AND n_tokens <= 100000
            AND avg_token_len >= 3.0 AND avg_token_len <= 10.0
            AND alpha_frac >= 0.8 AND symbol_frac <= 0.1
            AND stop_hits >= 2) AS quality_keep
           FROM f)
         SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio,
           alpha_frac, symbol_frac, split, keeper, n_copies, pred_lang,
           quality_keep,
           (quality_keep AND pred_lang = 'en' AND doc_id = keeper) AS keep
         FROM g ORDER BY doc_id""",
    "t_filter_rules" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                    FROM documents),
         f AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round((length(text) - (len(toks) - 1))::DOUBLE / len(toks), 4)
             AS mean_token_len,
           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             / len(toks), 4) AS alpha_frac,
           round(len(list_filter(toks,
             x -> contains(x, '#') OR contains(x, '...')))::DOUBLE
             / len(toks), 4) AS symbol_frac,
           CAST(len(list_filter(toks,
             x -> x IN ('the','a','of','to','and','in','is','that')))
             AS BIGINT) AS stop_hits
         FROM t)
         SELECT doc_id, n_tokens, mean_token_len, alpha_frac, symbol_frac,
           stop_hits,
           n_tokens BETWEEN 50 AND 100000 AS ok_len,
           mean_token_len BETWEEN 3.0 AND 10.0 AS ok_mean_len,
           alpha_frac >= 0.8 AS ok_alpha,
           symbol_frac <= 0.1 AS ok_symbol,
           stop_hits >= 2 AS ok_stop,
           (n_tokens BETWEEN 50 AND 100000)
             AND (mean_token_len BETWEEN 3.0 AND 10.0)
             AND alpha_frac >= 0.8 AND symbol_frac <= 0.1
             AND stop_hits >= 2 AS keep
         FROM f ORDER BY doc_id""",
    // gaps-and-islands over duplicated-gram positions; coalesce(-1)
    // replays Spark's isNull new-island test (pos >= 0 always)
    "d_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE len(string_split(text, ' ')) >= 8),
         g AS (SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+7], ' ')) AS g
               FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7))
                 AS i) u),
         d AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id)),
         m AS (SELECT doc_id, pos FROM g JOIN d USING (g)),
         i AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 7) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
                   THEN 1 ELSE 0 END AS nw
               FROM m),
         ii AS (SELECT doc_id, pos,
                  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM i)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS n_dup_tokens
         FROM ii GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    // replays the span pipeline, then rebuilds each doc from the
    // positions no span covers (string_agg ordered by position —
    // same tokens, same order, same single-space join)
    "t_span_trim" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents),
         t AS (SELECT doc_id, toks FROM t0 WHERE len(toks) >= 8),
         g AS (SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+7], ' ')) AS g
               FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7))
                 AS i) u),
         d AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id)),
         m AS (SELECT doc_id, pos FROM g JOIN d USING (g)),
         i AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 7) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
                   THEN 1 ELSE 0 END AS nw
               FROM m),
         ii AS (SELECT doc_id, pos,
                  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM i),
         spans AS (SELECT doc_id, min(pos) AS span_start,
                     max(pos) + 7 AS span_end
                   FROM ii GROUP BY doc_id, island),
         cov AS (SELECT doc_id,
                   unnest(range(span_start, span_end + 1)) AS pos
                 FROM spans),
         tok AS (SELECT doc_id, toks,
                   unnest(range(0, len(toks))) AS pos
                 FROM t0),
         tk AS (SELECT doc_id, pos, toks[pos + 1] AS tk FROM tok),
         keep AS (SELECT tk.doc_id, tk.pos, tk.tk
                  FROM tk LEFT JOIN cov
                    ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos
                  WHERE cov.pos IS NULL),
         agg AS (SELECT doc_id, count(*) AS kept,
                   string_agg(tk, ' ' ORDER BY pos) AS txt
                 FROM keep GROUP BY doc_id)
         SELECT t0.doc_id, CAST(len(t0.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept_tokens,
           coalesce(agg.txt, '') AS trimmed_text
         FROM t0 LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""",
    "d_dup_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE len(string_split(text, ' ')) >= 8),
         g AS (SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+7], ' ')) AS g
               FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7))
                 AS i) u),
         d AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id)),
         m AS (SELECT doc_id, pos FROM g JOIN d USING (g)),
         i AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 7) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
                   THEN 1 ELSE 0 END AS nw
               FROM m),
         ii AS (SELECT doc_id, pos,
                  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM i),
         sp AS (SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS e0
                FROM ii GROUP BY doc_id, island),
         agg AS (SELECT doc_id, CAST(sum(e0 - s0 + 1) AS BIGINT) AS dup_tokens,
                   count(*) AS n_spans
                 FROM sp GROUP BY doc_id)
         SELECT dd.doc_id,
           CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens,
           coalesce(agg.dup_tokens, 0) AS dup_tokens,
           coalesce(agg.n_spans, 0) AS n_spans,
           round(coalesce(agg.dup_tokens, 0)::DOUBLE
             / len(string_split(dd.text, ' ')), 4) AS dup_frac
         FROM documents dd LEFT JOIN agg ON agg.doc_id = dd.doc_id
         ORDER BY dd.doc_id""",
    "t_perplexity" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
         v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM v),
         lp AS (SELECT tok, ln(cnt / total) AS lp FROM v, tot),
         s AS (SELECT doc_id, avg(-lp) AS xent
               FROM t JOIN lp USING (tok) GROUP BY doc_id)
         SELECT doc_id, round(xent, 4) AS cross_entropy,
           round(exp(xent), 4) AS ppl
         FROM s ORDER BY doc_id""",
    "t_pack" ->
      """WITH RECURSIVE d AS (SELECT source, doc_id,
           len(string_split(text, ' ')) AS n_toks,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         FROM documents),
         r AS (
           SELECT source, doc_id, n_toks, rn,
             CAST(0 AS BIGINT) AS bin, n_toks AS acc
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.source, d.doc_id, d.n_toks, d.rn,
             CASE WHEN r.acc + d.n_toks > 256 THEN r.bin + 1 ELSE r.bin END,
             CASE WHEN r.acc + d.n_toks > 256 THEN d.n_toks
                  ELSE r.acc + d.n_toks END
           FROM r JOIN d ON d.source = r.source AND d.rn = r.rn + 1)
         SELECT source, doc_id, n_toks, bin FROM r
         ORDER BY source, doc_id""",
    "t_shards" ->
      """SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 32
           AS shard,
         count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM documents GROUP BY shard ORDER BY shard""",
    // ratio divides the ROUNDED rates (both engines round first) so
    // the 4-dp quotient can't diverge in the last ulp
    "t_drift" ->
      """WITH t AS (SELECT
           CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
                WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           unnest(string_split(text, ' ')) AS token
           FROM documents),
         c AS (SELECT token,
           CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_val
           FROM t WHERE split <> 'test' GROUP BY token),
         tot AS (SELECT sum(n_train) AS tot_train, sum(n_val) AS tot_val
                 FROM c),
         top AS (SELECT * FROM c
                 ORDER BY (n_train + n_val) DESC, token LIMIT 200),
         r AS (SELECT token, n_train, n_val,
           round((n_train + 1)::DOUBLE / (tot_train + 200), 6) AS p_train,
           round((n_val + 1)::DOUBLE / (tot_val + 200), 6) AS p_val
           FROM top, tot)
         SELECT token, n_train, n_val, p_train, p_val,
           round(p_train / greatest(p_val, 0.000001), 4) AS ratio,
           (round(p_train / greatest(p_val, 0.000001), 4) >= 2.0
            OR round(p_train / greatest(p_val, 0.000001), 4) <= 0.5)
             AS drifted
         FROM r ORDER BY token""",
    "s_hop_window" ->
      """WITH e AS (SELECT event_type, value,
           ((epoch_ns(ts) // 1000) // 900000000) * 900000000 AS b_us
         FROM events),
         x AS (SELECT event_type, value,
           make_timestamp(b_us - CAST(900000000 AS BIGINT) * k) AS window_start
         FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks)
         SELECT window_start, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM x GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "s_trending" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n
         FROM events GROUP BY 1, 2),
         r AS (SELECT day, event_type, n,
           row_number() OVER (PARTITION BY day
             ORDER BY n DESC, event_type) AS rk
         FROM d)
         SELECT day, event_type, n FROM r WHERE rk <= 2
         ORDER BY day, event_type""",
    "t_reservoir" ->
      """WITH r AS (SELECT source, doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents)
         SELECT source, doc_id, h FROM r WHERE rk <= 5
         ORDER BY source, doc_id""",
    "m_resize" ->
      """WITH f AS (SELECT doc_id, 16 + (strlen(text) % 64) AS w,
                      16 + ((strlen(text) // 64) % 64) AS h FROM documents)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * 224 // greatest(w, h) AS INT) AS out_w,
           CAST(h * 224 // greatest(w, h) AS INT) AS out_h
         FROM f ORDER BY doc_id""",
    "m_frame_sample" ->
      """WITH f AS (SELECT doc_id,
             greatest(1, strlen(text) // 256) AS nf FROM documents),
         s AS (SELECT doc_id, nf, (nf + 7) // 8 AS stride FROM f),
         x AS (SELECT doc_id,
             unnest(range(0, nf, stride)) AS frame_idx FROM s)
         SELECT doc_id, frame_idx, frame_idx * 256 AS byte_offset
         FROM x ORDER BY doc_id, frame_idx""",
    "s_overlap_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
                      epoch_ns(ts) // 1000 AS p_s,
                      epoch_ns(ts) // 1000 + 86400000000 AS p_e
                    FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, epoch_ns(ts) // 1000 AS c_s,
                 epoch_ns(ts) // 1000 + 7200000000 AS c_e
               FROM events WHERE event_type = 'click')
         SELECT p.p_id, p.user_id, count(*) AS n_overlaps
         FROM p JOIN c ON c.user_id = p.user_id
           AND p.p_s < c.c_e AND c.c_s < p.p_e
         GROUP BY p.p_id, p.user_id ORDER BY p.p_id""",
    "s_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus
                    FROM events),
         s1 AS (SELECT user_id, min(tus) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, t1, min(tus) AS t2
                FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND tus >= t1
                  AND tus - t1 <= 604800000000 GROUP BY e.user_id, t1),
         s3 AS (SELECT e.user_id, t1, min(tus) AS t3
                FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND tus >= t2
                  AND tus - t1 <= 604800000000 GROUP BY e.user_id, t1)
         SELECT 1 AS step, 'signup' AS step_name, count(*) AS n_users FROM s1
         UNION ALL SELECT 2, 'click', count(*) FROM s2
         UNION ALL SELECT 3, 'purchase', count(*) FROM s3
         ORDER BY step""",
    "s_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus
                    FROM events),
         x AS (SELECT user_id, event_id, tus,
                 CASE WHEN lag(tus) OVER (PARTITION BY user_id
                        ORDER BY tus, event_id) IS NULL THEN 1
                      WHEN tus - lag(tus) OVER (PARTITION BY user_id
                        ORDER BY tus, event_id) > 1800000000 THEN 1
                      ELSE 0 END AS new_session FROM e),
         s AS (SELECT user_id, tus,
                 CAST(sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS session_seq
               FROM x)
         SELECT user_id, session_seq, count(*) AS n_events,
           max(tus) - min(tus) AS duration_us
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq""",
    "t_perplexity2" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         bg AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS tok
                FROM (SELECT doc_id, toks,
                        unnest(range(1, len(toks))) AS i FROM t) x),
         p AS (SELECT prev, tok, count(*) AS c2 FROM bg GROUP BY 1, 2),
         cx AS (SELECT prev, sum(c2) AS c1 FROM p GROUP BY 1),
         lp AS (SELECT prev, tok, ln(c2 / CAST(c1 AS DOUBLE)) AS lp
                FROM p JOIN cx USING (prev)),
         s AS (SELECT doc_id, avg(-lp) AS xent
               FROM bg JOIN lp USING (prev, tok) GROUP BY 1)
         SELECT doc_id, round(xent, 4) AS cross_entropy,
           round(exp(xent), 4) AS ppl
         FROM s ORDER BY doc_id""",
    "t_perplexity3" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         uni AS (SELECT doc_id, unnest(toks) AS w FROM t),
         bi AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
                FROM (SELECT doc_id, toks,
                        unnest(range(1, len(toks))) AS i FROM t) x),
         tri AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
                   toks[i + 2] AS w3
                 FROM (SELECT doc_id, toks,
                         unnest(range(1, len(toks) - 1)) AS i FROM t) x),
         c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY 1, 2, 3),
         x3 AS (SELECT w1, w2, sum(c3) AS c3ctx FROM c3 GROUP BY 1, 2),
         c2 AS (SELECT p, w, count(*) AS c2 FROM bi GROUP BY 1, 2),
         x2 AS (SELECT p, sum(c2) AS c2ctx FROM c2 GROUP BY 1),
         c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM uni),
         s AS (SELECT tri.doc_id,
                 -ln(0.6 * (c3.c3 / CAST(x3.c3ctx AS DOUBLE))
                   + 0.3 * (c2.c2 / CAST(x2.c2ctx AS DOUBLE))
                   + 0.1 * (c1.c1 / CAST(nn.n AS DOUBLE))) AS nlp
               FROM tri JOIN c3 USING (w1, w2, w3) JOIN x3 USING (w1, w2)
                 JOIN c2 ON c2.p = tri.w2 AND c2.w = tri.w3
                 JOIN x2 ON x2.p = tri.w2
                 JOIN c1 ON c1.w = tri.w3
                 CROSS JOIN nn),
         a AS (SELECT doc_id, avg(nlp) AS xent FROM s GROUP BY 1)
         SELECT doc_id, round(xent, 4) AS cross_entropy,
           round(exp(xent), 4) AS ppl
         FROM a ORDER BY doc_id""",
    "s_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
         dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
         w AS (SELECT DISTINCT user_id, d + CAST(off AS INTEGER) AS d
               FROM ud CROSS JOIN (SELECT unnest(range(7)) AS off) o),
         wau AS (SELECT d, count(*) AS wau FROM w GROUP BY 1)
         SELECT dau.d AS day, dau.dau AS dau, wau.wau AS wau
         FROM dau JOIN wau ON wau.d = dau.d ORDER BY day""",
    "t_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      len(string_split(text, ' ')) AS n FROM documents),
         b AS (SELECT doc_id, toks, n,
                 list_filter(range(3, n + 1), i ->
                   substring(md5(toks[i-2] || ' ' || toks[i-1] || ' '
                     || toks[i]), 32, 1) = '0') AS bpos FROM t),
         c AS (SELECT doc_id, toks,
                 list_concat(list_concat([0], bpos), [n]) AS cuts FROM b),
         x AS (SELECT doc_id, toks, cuts,
                 unnest(range(1, len(cuts))) AS j FROM c),
         y AS (SELECT doc_id, toks, cuts[j] AS s, cuts[j+1] AS e
               FROM x WHERE cuts[j+1] > cuts[j]),
         z AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY doc_id ORDER BY s)
                   AS chunk_idx,
                 array_to_string(toks[s+1:e], ' ') AS chunk,
                 e - s AS n_toks FROM y)
         SELECT doc_id, chunk_idx, md5(chunk) AS fp, n_toks
         FROM z ORDER BY doc_id, chunk_idx""",
    "s_anomaly" ->
      """WITH s AS (SELECT event_type, avg(value) AS mu,
                      stddev_samp(value) AS sigma
                    FROM events GROUP BY 1)
         SELECT event_id, event_type, value,
           round((value - mu) / sigma, 4) AS z
         FROM events JOIN s USING (event_type)
         WHERE sigma IS NOT NULL AND sigma > 0
           AND abs(value - mu) > 3.0 * sigma
         ORDER BY event_id""",
    "s_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         c AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) / 7 AS INT) AS week_offset,
           count(*) AS n_active
         FROM e JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // PMI with every division an explicit double and ln applied to
    // the same ratio-of-ratios both engines compute; rounded to 4
    // decimals BEFORE the ORDER BY so the top-k cut replays
    "t_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         uni AS (SELECT u.w, count(*) AS cw
                 FROM t, unnest(toks) AS u(w) GROUP BY 1),
         nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS n_uni FROM uni),
         pair AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS n_pair
                  FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)
                  GROUP BY 1, 2),
         nb AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS n_bi FROM pair)
         SELECT w1, w2, n_pair,
           round(ln((CAST(n_pair AS DOUBLE) / n_bi)
             / ((CAST(u1.cw AS DOUBLE) / n_uni)
                * (CAST(u2.cw AS DOUBLE) / n_uni))), 4) AS pmi
         FROM pair, nu, nb, uni u1, uni u2
         WHERE pair.w1 = u1.w AND pair.w2 = u2.w AND n_pair >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 100""",
    // winnowing: k=3-token grams, w=4-gram windows; min hash per
    // window with rightmost tie-break encoded as h*2^21 + (2^20-pos),
    // decoded by exact integer arithmetic; partial trailing window
    // only for docs with fewer than w grams (cnt = least(w, total))
    "t_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')),
                   1, 8))::BIGINT AS h
               FROM t, unnest(generate_series(1, len(toks) - 2)) AS s(i)
               WHERE len(toks) >= 3),
         m AS (SELECT doc_id,
                 min(h * 2097152 + (1048576 - pos)) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
                 count(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt,
                 count(*) OVER (PARTITION BY doc_id) AS total
               FROM g)
         SELECT DISTINCT doc_id, 1048576 - (m % 2097152) AS pos,
           m // 2097152 AS fp
         FROM m WHERE cnt = least(4, total)
         ORDER BY doc_id, pos""",
    "s_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                      epoch_ns(ts) // 1000 AS tus FROM events),
         p AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY tus, event_id) AS to_type
               FROM e),
         c AS (SELECT from_type, to_type, count(*) AS n
               FROM p WHERE to_type IS NOT NULL
               GROUP BY from_type, to_type)
         SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS p
         FROM c ORDER BY from_type, to_type""",
    "t_heavyhitters" ->
      """SELECT t AS token, count(*) AS est, CAST(0 AS BIGINT) AS err_bound
         FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         GROUP BY t ORDER BY est DESC, token LIMIT 25""",
    // replays the exact md5 cells (d=0..3, width 512), min over rows,
    // left joins so an untouched cell reads 0 — same probe list
    "t_cms" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t
                       FROM documents),
         cells AS (SELECT d,
             ('0x' || substring(md5(d::VARCHAR || '|' || t), 1, 8))::BIGINT
               % 512 AS bucket, count(*) AS c
           FROM toks, range(0, 4) r(d) GROUP BY 1, 2),
         q AS (SELECT unnest(['the','spark','join','merge','batch',
                              'window','data','key','scan','zzz_absent'])
                 AS token),
         qb AS (SELECT token, d,
             ('0x' || substring(md5(d::VARCHAR || '|' || token), 1, 8))::BIGINT
               % 512 AS bucket
           FROM q, range(0, 4) r(d)),
         est AS (SELECT token, min(coalesce(c, 0)) AS est
                 FROM qb LEFT JOIN cells USING (d, bucket) GROUP BY 1),
         tr AS (SELECT t AS token, count(*) AS true_count FROM toks
                WHERE t IN ('the','spark','join','merge','batch',
                            'window','data','key','scan','zzz_absent')
                GROUP BY 1)
         SELECT token, CAST(est AS BIGINT) AS est,
           CAST(coalesce(true_count, 0) AS BIGINT) AS true_count,
           CAST(est - coalesce(true_count, 0) AS BIGINT) AS overcount
         FROM est LEFT JOIN tr USING (token)
         ORDER BY token""",
    "s_pattern_match" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                      epoch_ns(ts) // 1000 AS tus FROM events),
         m AS (SELECT user_id, event_id, event_type, tus,
                 max(CASE WHEN event_type = 'signup' THEN tus END)
                   OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS tsig,
                 max(CASE WHEN event_type = 'purchase' THEN tus END)
                   OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS tpur
               FROM e)
         SELECT user_id, event_id AS click_id,
           CAST(tus - tsig AS BIGINT) AS gap_us
         FROM m
         WHERE event_type = 'click' AND tsig IS NOT NULL
           AND (tpur IS NULL OR tsig > tpur)
           AND tus - tsig <= 3600000000
         ORDER BY click_id""",
    // same ordered-fold discipline as t_entropy: both engines sum
    // identical doubles in identical order (DuckDB `/` on integers is
    // float division, matching the explicit double casts)
    "d_dsir" ->
      """WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
                         unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         v AS (SELECT tok, count(*) AS c_all,
                 count(*) FILTER (tgt) AS c_tgt
               FROM toks GROUP BY tok),
         tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all,
                   CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
                   count(*) AS nv
                 FROM v),
         lr AS (SELECT tok,
                  ln((c_tgt + 1)::DOUBLE / (n_tgt + nv)::DOUBLE)
                    - ln((c_all + 1)::DOUBLE / (n_all + nv)::DOUBLE) AS lr
                FROM v, tot),
         pd AS (SELECT doc_id, tok, count(*) AS c
                FROM toks GROUP BY doc_id, tok),
         a AS (SELECT pd.doc_id,
                 list(struct_pack(c := pd.c, lr := lr.lr)
                   ORDER BY pd.tok) AS arr,
                 CAST(sum(pd.c) AS BIGINT) AS n
               FROM pd JOIN lr USING (tok) GROUP BY pd.doc_id)
         SELECT doc_id, n AS n_tokens,
           round(list_reduce(
             list_prepend(0.0::DOUBLE,
               list_transform(arr, x -> x.c::DOUBLE * x.lr)),
             (a, b) -> a + b), 4) AS llr
         FROM a ORDER BY doc_id""",
    // entropy folds left-to-right over token-sorted counts so both
    // engines execute the identical IEEE op sequence (see
    // TextAnalysis.entropy); list(... ORDER BY token) mirrors
    // Spark's sort_array(collect_list(struct(token, c)))
    "t_entropy" ->
      """WITH c AS (SELECT doc_id, t AS token, count(*) AS c
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                          FROM documents)
                    GROUP BY doc_id, t),
         a AS (SELECT doc_id,
                 list(c ORDER BY token) AS cs,
                 CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS n
               FROM c GROUP BY doc_id)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(len(cs) AS INT) AS n_distinct,
           round(list_reduce(
             list_prepend(0.0::DOUBLE,
               list_transform(cs,
                 cv -> -(cv::DOUBLE / n) * log2(cv::DOUBLE / n))),
             (a, b) -> a + b), 6) AS entropy
         FROM a ORDER BY doc_id""",
    "s_interarrival" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                      epoch_ns(ts) // 1000 AS tus FROM events),
         g AS (SELECT event_type,
                 tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY tus, event_id) AS gap_us
               FROM e)
         SELECT event_type, count(*) AS n_gaps,
           round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000, 4)
             AS avg_gap_s,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    // replays the greedy MMR selection exactly: identical cosine
    // folds, the same 0.7/0.3 literals, ties to the smaller id; the
    // LATERAL argmax consumes the running `chosen` list each step
    "e_mmr" ->
      """WITH RECURSIVE
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         cand AS (SELECT vec_id, embedding,
             list_sum(list_transform(range(1, 65),
               i -> qv[i]::DOUBLE * embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS rel
           FROM embeddings, q WHERE vec_id <> 0
           ORDER BY rel DESC, vec_id LIMIT 50),
         pair AS (SELECT x.vec_id AS a, y.vec_id AS b,
             list_sum(list_transform(range(1, 65),
               i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))))
               AS sim
           FROM cand x JOIN cand y ON x.vec_id <> y.vec_id),
         sel(rk, vec_id, score, chosen) AS (
           SELECT 1, t.vec_id, t.score, [t.vec_id]
           FROM (SELECT vec_id, 0.7 * rel AS score FROM cand
                 ORDER BY score DESC, vec_id LIMIT 1) t
           UNION ALL
           SELECT s.rk + 1, n.vec_id, n.score,
             list_append(s.chosen, n.vec_id)
           FROM sel s, LATERAL (
             SELECT c.vec_id,
               0.7 * c.rel - 0.3 * (SELECT max(p.sim) FROM pair p
                                    WHERE p.a = c.vec_id
                                      AND list_contains(s.chosen, p.b))
                 AS score
             FROM cand c WHERE NOT list_contains(s.chosen, c.vec_id)
             ORDER BY score DESC, c.vec_id LIMIT 1) n
           WHERE s.rk < 10)
         SELECT CAST(rk AS BIGINT) AS rk, vec_id, round(score, 4) AS score
         FROM sel ORDER BY rk""",
    "s_rfm" ->
      """WITH u AS (SELECT user_id, count(*) AS freq,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary,
             max(epoch_ns(ts) // 1000) AS umax
           FROM events GROUP BY user_id),
         g AS (SELECT max(umax) AS gmax FROM u),
         r AS (SELECT user_id, freq, monetary,
                 CAST((gmax - umax) // 86400000000 AS BIGINT)
                   AS recency_days
               FROM u, g),
         b AS (SELECT *,
                 ntile(4) OVER (ORDER BY recency_days, user_id) AS r_bucket,
                 ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_bucket,
                 ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_bucket
               FROM r)
         SELECT user_id, recency_days, freq, monetary,
           r_bucket, f_bucket, m_bucket,
           r_bucket || '-' || f_bucket || '-' || m_bucket AS segment
         FROM b ORDER BY user_id""",
    // replays the byte windows as ascii() integer arithmetic (the
    // payloads are the documents' ASCII text bytes, same contract as
    // the phash oracle)
    "m_audio_energy" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         w AS (SELECT doc_id, text, n,
                 unnest(range(0, CASE WHEN n <= 256 THEN 1
                                      ELSE (n - 256) // 128 + 1 END))
                   AS win_idx
               FROM d)
         SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
           CAST(win_idx * 128 AS BIGINT) AS byte_offset,
           CAST(coalesce(list_sum(list_transform(
             range(win_idx * 128 + 1, least(win_idx * 128 + 256, n) + 1),
             i -> ascii(substring(text, i, 1))::BIGINT
                  * ascii(substring(text, i, 1)))), 0) AS BIGINT) AS energy,
           CAST(coalesce(list_max(list_transform(
             range(win_idx * 128 + 1, least(win_idx * 128 + 256, n) + 1),
             i -> ascii(substring(text, i, 1)))), 0) AS INT) AS peak
         FROM w ORDER BY doc_id, win_idx""",
    // replays the audio-energy windows, thresholds, and merges
    // consecutive speech windows by gaps-and-islands — the same
    // integer arithmetic end to end
    "m_vad" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         w AS (SELECT doc_id, text, n,
                 unnest(range(0, CASE WHEN n <= 256 THEN 1
                                      ELSE (n - 256) // 128 + 1 END))
                   AS win_idx
               FROM d),
         e AS (SELECT doc_id, win_idx,
                 coalesce(list_sum(list_transform(
                   range(win_idx * 128 + 1, least(win_idx * 128 + 256, n) + 1),
                   i -> ascii(substring(text, i, 1))::BIGINT
                        * ascii(substring(text, i, 1)))), 0) AS energy
               FROM w),
         sp AS (SELECT doc_id, win_idx, energy,
                  win_idx - row_number() OVER
                    (PARTITION BY doc_id ORDER BY win_idx) AS island
                FROM e WHERE energy > 1600000),
         seg AS (SELECT doc_id, island, min(win_idx) AS start_win,
                   max(win_idx) AS end_win, count(*) AS n_wins,
                   sum(energy) AS seg_energy
                 FROM sp GROUP BY 1, 2)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_win)
                AS INT) AS seg_idx,
           CAST(start_win AS BIGINT) AS start_win,
           CAST(end_win AS BIGINT) AS end_win,
           CAST(n_wins AS BIGINT) AS n_wins,
           CAST(start_win * 128 AS BIGINT) AS start_byte,
           CAST(end_win * 128 + 256 AS BIGINT) AS end_byte,
           CAST(seg_energy AS BIGINT) AS seg_energy
         FROM seg ORDER BY doc_id, seg_idx""",
    // full 256-byte frames (short doc = one clamped frame), energy =
    // plain byte sum, cut where |delta| > 300
    "m_scenecut" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         f AS (SELECT doc_id, text, n,
                 unnest(range(0, CASE WHEN n < 256 THEN 1
                                      ELSE n // 256 END)) AS frame_idx
               FROM d),
         e AS (SELECT doc_id, frame_idx,
                 CAST(coalesce(list_sum(list_transform(
                   range(frame_idx * 256 + 1,
                         least((frame_idx + 1) * 256, n) + 1),
                   i -> ascii(substring(text, i, 1))::BIGINT)), 0)
                   AS BIGINT) AS energy
               FROM f),
         w AS (SELECT doc_id, frame_idx, energy,
                 CAST(coalesce(abs(energy - lag(energy) OVER
                   (PARTITION BY doc_id ORDER BY frame_idx)), 0)
                   AS BIGINT) AS delta
               FROM e)
         SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, energy,
           delta, (frame_idx > 0 AND delta > 300) AS is_cut
         FROM w ORDER BY doc_id, frame_idx""",
    // per-user (source-partition) watermark over simulated arrivals:
    // arrival = event time + 48-bit-md5 jitter % 24 h; watermark =
    // max event time over strictly-earlier arrivals minus 1 h
    "s_watermark_late" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                 epoch_ns(ts) // 1000 AS tus,
                 epoch_ns(ts) // 1000
                   + ('0x' || substring(md5(event_id::VARCHAR), 1, 12))::BIGINT
                     % 86400000000 AS arrival_us
               FROM events),
         w AS (SELECT event_type, tus,
                 max(tus) OVER (PARTITION BY user_id
                   ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - 3600000000 AS wm
               FROM e),
         l AS (SELECT event_type,
                 CASE WHEN tus < wm THEN wm - tus ELSE 0 END AS lateness_us
               FROM w)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(max(lateness_us) AS BIGINT) AS max_lateness_us
         FROM l GROUP BY event_type ORDER BY event_type"""
  )
}
