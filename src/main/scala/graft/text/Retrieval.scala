package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus retrieval and statistical-LM scoring over document tables —
  * the ranked-search face of the engine (the reference's search
  * surface is boolean index probes, `models/egraph_v1_search_model.erl`;
  * BM25 is what a user of that surface reaches for next) plus the
  * CCNet-style LM quality signal of training-data pipelines.
  *
  * Scale notes (the 100 TB contract):
  *  - BM25 term frequencies are computed INSIDE each document's token
  *    array (map-side `filter` on the array — no explode, no shuffle);
  *    the corpus statistics (N, avgdl, per-term df) collapse to ONE
  *    single-row aggregate that is broadcast back, and the top-k is a
  *    `TakeOrdered`, never a full sort. Total cost: one scan + one
  *    one-row exchange.
  *  - Perplexity is the classic two-pass shape: vocab counts are one
  *    partial-aggregated shuffle (vocab-sized, not corpus-sized), the
  *    per-token log-probability join goes UN-hinted — Heaps' law
  *    bounds curated-text vocabularies to millions of types, but raw
  *    web corpora carry a 10^8–10^9 one-off-token tail (the same
  *    tail the BPE collect caps), so this library refuses to promise
  *    a driver-sized frame on a corpus-derived key: AQE broadcasts
  *    the model while it measures small and degrades to a shuffle
  *    join past the threshold instead of OOM-ing a forced broadcast
  *    (probed at the 64× disjoint-vocab corpus, see PlanAuditSpec).
  *    The per-doc re-aggregation partial-aggregates before its
  *    single shuffle on doc id.
  */
object Retrieval {

  /** Okapi BM25 (with Lucene's `+1` idf smoothing, so idf is always
    * positive) of a literal query against every document; top `k`
    * rows by score.
    *
    * Constant folding note: `k1 + 1` and `1 - b` are evaluated
    * HERE (driver-side, plain double arithmetic) and the DuckDB
    * oracle spells the same operations (`1.2 + 1`, `1 - 0.75`) so
    * both engines run bit-identical IEEE expressions — a pre-folded
    * decimal literal like `2.2` is NOT the same double as `1.2 + 1`.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // token array materialized as its OWN projection: referenced
    // once per term below, and a raw split(text) expression would be
    // re-evaluated per reference (see the ngrams note in Dedup)
    val tf = docs
      .select(col(idCol), TextAnalysis.wsTokens(col(textCol)).as("toks"))
      .select(
        col(idCol) +: size(col("toks")).as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("toks"), x => x === lit(t))).as(s"tf$i")
          }: _*)
    // one row: N, avgdl, df per term — broadcast-joined back
    val statAggs = avg("dl").as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(count(lit(1)).as("n"), statAggs: _*)
    val lenNorm = lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    val score = terms.indices.map { i =>
      val tfi = col(s"tf$i")
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1)
      idf * (tfi * lit(k1 + 1)) / (tfi + lenNorm)
    }.reduce(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /** Hybrid retrieval: the BM25 keyword ranking fused with an
    * embedding cosine ranking by Reciprocal Rank Fusion
    * (Cormack/Clarke/Büttcher 2009): `score(d) = Σ_lists 1/(c+rank)`,
    * missing from a list contributes 0. The standard first step of a
    * RAG / retrieval pipeline once a corpus carries both a token
    * index and an embedding column.
    *
    * Ranks, not scores, are fused — so the two lists need no score
    * calibration, and the fusion is replayable cross-engine (integer
    * ranks; the per-list orderings are each already oracle-pinned by
    * t_bm25 / e_knn_brute). The final-rank windows run on k-row
    * frames AFTER each list's top-k cut, so the single-partition
    * window is trivially safe at any corpus scale; everything heavy
    * happened inside the per-list pipelines (BM25: scan + one-row
    * broadcast agg + TakeOrdered; cosine: broadcast query × scan +
    * TakeOrdered). Fusing joins two k-row frames. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
      idCol: String, textCol: String, vecIdCol: String, vecCol: String,
      dim: Int, terms: Seq[String], queryVecId: Long, k: Int,
      poolK: Int = 50, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25(docs, idCol, textCol, terms, poolK)
      .select(col(idCol).as("id"),
        row_number().over(Window.orderBy(col("bm25").desc, col(idCol)))
          .cast("long").as("rk_lex"))
    val sem = graft.ann.Knn.bruteForceTopK(embeddings,
        embeddings.filter(col(vecIdCol) === queryVecId),
        vecIdCol, vecCol, dim, poolK)
      .select(col("neighbor_id").as("id"), col("rk").cast("long").as("rk_sem"))
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"),
        round(coalesce(lit(1.0) / (lit(c) + col("rk_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("rk_sem")), lit(0.0)), 6)
          .as("rrf"),
        col("rk_lex"), col("rk_sem"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** Bigram-LM cross-entropy / perplexity per document: every token
    * from position 2 on is scored as -ln(c(prev, tok) / c(prev·)),
    * with counts estimated on the corpus itself — the
    * conditional-probability upgrade of [[unigramPerplexity]]
    * (shuffled text scores near the unigram entropy; real word
    * order scores lower). No smoothing needed for self-scoring: the
    * corpus contains every bigram it is scored on. Docs shorter
    * than 2 tokens have no bigram and drop out.
    *
    * Scale shape: bigram extraction is map-side (zip of the token
    * array with its tail); the model is one partial-aggregated
    * shuffle (bigram-type-sized); context totals derive from the
    * bigram counts with a second small agg; scoring joins the model
    * back without a broadcast HINT — bigram type counts grow far
    * faster than Heaps'-law unigram vocabularies, so the model is
    * not guaranteed driver-sized at corpus scale; AQE broadcasts it
    * when it measures small and shuffles when it doesn't. */
  def bigramPerplexity(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(idCol),
      TextAnalysis.wsTokens(col(textCol)).as("toks"))
    val bigrams = base
      .select(col(idCol), explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("prev"), b.as("tok")))).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.tok").as("tok"))
    val pair = bigrams.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val ctx = pair.groupBy("prev").agg(sum("c2").as("c1"))
    val logp = pair.join(ctx, "prev")
      .select(col("prev"), col("tok"),
        log(col("c2") / col("c1").cast("double")).as("lp"))
    bigrams.join(logp, Seq("prev", "tok"))
      .groupBy(idCol)
      .agg(avg(-col("lp")).as("xent"))
      .select(col(idCol), round(col("xent"), 4).as("cross_entropy"),
        round(exp(col("xent")), 4).as("ppl"))
  }

  /** Interpolated trigram-LM perplexity per document (Jelinek-Mercer
    * smoothing, the classic n-gram LM of Chen & Goodman 1999):
    * every token from position 3 on is scored as
    * −ln( λ3·p(w₃|w₁w₂) + λ2·p(w₃|w₂) + λ1·p(w₃) ), with all three
    * component models estimated from the corpus itself. The
    * interpolation is what a real LM-quality filter runs: the
    * trigram term rewards genuine word order, the bigram/unigram
    * terms keep unseen-context scores finite — and unlike the
    * unsmoothed [[bigramPerplexity]], this form stays well-defined
    * when scoring NEW text against a frozen corpus model.
    *
    * Scale shape, same family as [[bigramPerplexity]]: all gram
    * extraction is map-side (`transform` over index sequences); the
    * three models are three type-sized count shuffles (trigram types
    * dominate); scoring joins each model back onto the trigram
    * stream un-hinted — AQE broadcasts the models while they
    * measure small and shuffles past that. The unigram N and vocab
    * totals ride a single-row broadcast. */
  def trigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
      l3: Double = 0.6, l2: Double = 0.3, l1: Double = 0.1): DataFrame = {
    // MEASURED NEGATIVE (r12 ABBA, OPTIMIZATION_r12.md #5 and
    // "Measured negatives"): checkpointing
    // this frame so uni/bi/tri tokenize once read 1.5× SLOWER than
    // the lazy recompute at sf0.1 (best-of 3.49 vs 2.35 s) — the
    // whitespace split is cheap and the token-array checkpoint is
    // fat, the opposite trade of minhashNearDups' hashed frame
    // (sort + per-token hash + md5, compact long-array payload),
    // where the same one-pass change won ~2 s. Tokenization stays
    // lazy here.
    val base = docs.select(col(idCol),
      TextAnalysis.wsTokens(col(textCol)).as("toks"))
    // streams: unigrams (all tokens), bigrams (adjacent pairs),
    // trigrams (adjacent triples; the scoring stream)
    val uni = base.select(col(idCol), explode(col("toks")).as("w"))
    val bi = base.select(col(idCol), explode(expr(
      "transform(sequence(0, size(toks) - 2), i -> " +
        "struct(toks[i] AS p, toks[i+1] AS w))")).as("b"))
      .select(col(idCol), col("b.p").as("p"), col("b.w").as("w"))
    val tri = base.filter(size(col("toks")) >= 3)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> " +
          "struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))"))
        .as("t"))
      .select(col(idCol),
        col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
    // distinct column names per model frame: ctx2/ctx3 derive from
    // c2/c3, and same-named columns across a derived pair make the
    // join conditions ambiguous self-join references
    val c3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val ctx3 = c3.groupBy("w1", "w2").agg(sum("c3").as("c3ctx"))
      .select(col("w1").as("x3a"), col("w2").as("x3b"), col("c3ctx"))
    val c2 = bi.groupBy("p", "w").agg(count(lit(1)).as("c2"))
      .select(col("p").as("c2p"), col("w").as("c2w"), col("c2"))
    val ctx2 = c2.groupBy("c2p").agg(sum("c2").as("c2ctx"))
      .select(col("c2p").as("x2p"), col("c2ctx"))
    val c1 = uni.groupBy("w").agg(count(lit(1)).as("c1"))
      .select(col("w").as("c1w"), col("c1"))
    // N = sum(c1) — derived from the unigram model instead of a
    // second corpus-wide count scan (r12)
    val n = c1.agg(sum(col("c1")).as("n"))
    val scored = tri
      .join(c3, Seq("w1", "w2", "w3"))
      .join(ctx3, col("w1") === col("x3a") && col("w2") === col("x3b"))
      .join(c2, col("w2") === col("c2p") && col("w3") === col("c2w"))
      .join(ctx2, col("w2") === col("x2p"))
      .join(c1, col("w3") === col("c1w"))
      .crossJoin(broadcast(n))
      .select(col(idCol),
        (-log(lit(l3) * (col("c3") / col("c3ctx").cast("double"))
          + lit(l2) * (col("c2") / col("c2ctx").cast("double"))
          + lit(l1) * (col("c1") / col("n").cast("double")))).as("nlp"))
    scored.groupBy(idCol)
      .agg(avg(col("nlp")).as("xent"))
      .select(col(idCol), round(col("xent"), 4).as("cross_entropy"),
        round(exp(col("xent")), 4).as("ppl"))
  }

  /** PMI collocation mining: the corpus's most strongly associated
    * adjacent word pairs — `pmi(x,y) = ln( p(xy) / (p(x)·p(y)) )`
    * with probabilities estimated from corpus counts (Church & Hanks
    * 1990). The phrase-discovery primitive (multi-word expressions,
    * named entities, domain terms) a tokenizer- or vocab-building
    * pipeline runs over a new corpus.
    *
    * `minCount` floors the pair count so low-frequency accidents
    * (whose PMI is inflated by construction) never surface. Output:
    * top `k` pairs by PMI, ties broken lexicographically; PMI is
    * rounded to 4 decimals BEFORE ranking so the cut is replayable
    * cross-engine (the ratio-of-doubles + ln differs only past the
    * rounded digit).
    *
    * Scale shape: bigram/unigram extraction is map-side; each count
    * is one partial-aggregated shuffle (type-sized, not corpus-
    * sized); the totals are single-row broadcast aggregates; the
    * pair→unigram-count joins go UN-hinted — unigram vocabularies
    * are Heaps'-law bounded but this library refuses to promise
    * driver-sized frames on corpus-derived keys (see
    * [[bigramPerplexity]]), so AQE broadcasts when it measures
    * small. The final top-k is a `TakeOrdered`, never a full sort. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int = 5, k: Int = 100): DataFrame = {
    require(minCount >= 1 && k >= 1)
    val base = docs.select(col(idCol),
      TextAnalysis.wsTokens(col(textCol)).as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val nUni = uni.agg(sum("cw").cast("double").as("n_uni"))
    val pair = base
      .select(explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val nBi = pair.agg(sum("n_pair").cast("double").as("n_bi"))
    pair.filter(col("n_pair") >= minCount)
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1"),
        "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2"),
        "w2")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log((col("n_pair").cast("double") / col("n_bi"))
          / ((col("c1").cast("double") / col("n_uni"))
             * (col("c2").cast("double") / col("n_uni")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Unigram-LM cross-entropy / perplexity per document, with the
    * model estimated on the corpus itself (the CCNet / Gopher
    * "LM quality" signal, here with the simplest possible LM so the
    * arithmetic is oracle-replayable). Every token is scored as
    * -ln(count(token)/total_tokens); a document of only common
    * tokens scores low (predictable), rare-token documents high.
    * No smoothing is needed: the model's own training corpus can't
    * contain zero-count tokens.
    */
  def unigramPerplexity(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextAnalysis.wsTokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").cast("double").as("total"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("tok"), log(col("cnt") / col("total")).as("lp"))
    // un-hinted on purpose: logp's key is corpus-derived (see the
    // object doc) — AQE broadcasts it while small, shuffles past that
    toks.join(logp, "tok")
      .groupBy(idCol)
      .agg(avg(-col("lp")).as("xent"))
      .select(col(idCol), round(col("xent"), 4).as("cross_entropy"),
        round(exp(col("xent")), 4).as("ppl"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per-doc
    * log-likelihood ratio between a target-domain unigram LM and the
    * whole-corpus LM, w(d) = Σ_t c_d(t)·[ln p_tgt(t) − ln p_all(t)].
    * Positive = the doc looks more like the target domain than like
    * the average of the corpus — the resampling weight a
    * data-selection pipeline feeds exp(w) into.
    *
    * Both LMs are add-one smoothed over the SHARED corpus vocabulary
    * (so the ratio is defined for every token, including ones absent
    * from the target slice). Plan: one (token) count shuffle builds
    * both models in a single aggregate (conditional count for the
    * target slice), the single-row totals broadcast back, the
    * vocab-sized log-ratio table joins into the per-doc stream
    * UN-hinted (corpus-derived key — the same refusal as the
    * perplexity ops; AQE broadcasts while it measures small), and
    * the per-doc weight folds LEFT-TO-RIGHT over token-sorted
    * (count, ratio) pairs so both engines run the identical IEEE op
    * sequence — bit-for-bit doubles before round(4).
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val toks = docs.select(col(idCol), isTarget.as("tgt"),
      explode(TextAnalysis.wsTokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok")
      .agg(count(lit(1)).as("c_all"),
        count(when(col("tgt"), lit(1))).as("c_tgt"))
    val totals = vocab.agg(sum("c_all").as("n_all"),
      sum("c_tgt").as("n_tgt"), count(lit(1)).as("nv"))
    val lr = vocab.crossJoin(broadcast(totals))
      .select(col("tok"),
        (log((col("c_tgt") + 1).cast("double") /
            (col("n_tgt") + col("nv")).cast("double")) -
          log((col("c_all") + 1).cast("double") /
            (col("n_all") + col("nv")).cast("double"))).as("lr"))
    toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .join(lr, "tok")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("tok"), col("c"), col("lr"))))
          .as("arr"),
        sum(col("c")).as("n"))
      .select(col(idCol), col("n").as("n_tokens"),
        round(aggregate(col("arr"), lit(0.0), (acc, x) =>
          acc + x.getField("c").cast("double") * x.getField("lr")), 4)
          .as("llr"))
  }
}
