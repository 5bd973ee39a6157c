package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Registry
import graft.plans.Materialize._

/** Product quantization (PQ) approximate nearest neighbor (Jégou,
  * Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011): split each (unit-normalized) vector into
  * `m` subspaces, quantize each subvector against a per-subspace
  * codebook of `k` centroids, and search with an asymmetric distance
  * computation (ADC) — the query stays exact, every corpus vector is
  * represented by `m` small codes.
  *
  * Why this is the third ANN family next to IVF and sign-LSH: IVF
  * prunes WHICH vectors are scored, PQ compresses HOW each vector is
  * scored. A 64-dim float vector (256 bytes) becomes m=4 byte-codes;
  * at 100 TB the candidate scan reads codes, not vectors — a 64×
  * bandwidth cut on the dominant cost — and composes with IVF
  * (classic IVF-PQ) by bucketing the code table by cell.
  *
  * On unit vectors, L2 ranking is cosine ranking (d² = 2 − 2cos), so
  * ADC ranks by Σ_j (q_j·c_j − ‖c_j‖²/2) desc — per query a table of
  * m·k scalars, computed once and looked up per code. The top
  * `rerankK` ADC candidates are re-ranked by EXACT cosine (the
  * standard PQ + re-rank pipeline), so the output quality degrades
  * gracefully with codebook coarseness.
  *
  * Scale shape: training collects only the m·k·(dim/m) codebook
  * (driver-sized model, like [[Ivf.Model]]); encoding is map-side
  * against broadcast-literal codebooks; the search is
  * codes ⨯ broadcast(query tables) with a TakeOrdered-style window —
  * the corpus never shuffles. Like Ivf.train, `sampleFraction`
  * bounds training scans at corpus scale.
  */
object Pq {

  /** Per-subspace codebooks; sub = dim/m dims each, centroids NOT
    * normalized (PQ quantizes raw subvectors under L2). */
  final case class Model(codebooks: Seq[Seq[(Int, Seq[Double])]],
      dim: Int, m: Int) {
    val sub: Int = dim / m

    /** Code of subspace `j` for a (normalized) vector column:
      * argmin‖v_j − c‖² = argmax(v_j·c − ‖c‖²/2). */
    def codeExpr(v: Column, j: Int): Column = {
      val vj = slice(v, j * sub + 1, sub)
      array_max(array(codebooks(j).map { case (id, c) =>
        val half = c.map(x => x * x).sum / 2
        struct((Knn.dot(vj, typedlit(c)) - half).as("score"),
          lit(id).as("cid"))
      }: _*)).getField("cid")
    }

    /** Per-subspace ADC table for a (normalized) query column: entry
      * c of subspace j is q_j·c − ‖c‖²/2, so the approximate score of
      * a coded vector is m lookups. */
    def adcTableExpr(q: Column, j: Int): Column = {
      val qj = slice(q, j * sub + 1, sub)
      array(codebooks(j).sortBy(_._1).map { case (_, c) =>
        val half = c.map(x => x * x).sum / 2
        Knn.dot(qj, typedlit(c)) - half
      }: _*)
    }
  }

  private def unit(v: Column): Column = {
    // zero vectors pass through unscaled (÷0 would code them as NaN
    // argmin garbage) — the same guard as Ivf.normalize
    val n = sqrt(Knn.dot(v, v))
    transform(v, x => when(n === 0d, x.cast("double"))
      .otherwise(x.cast("double") / n))
  }

  /** Train the per-subspace codebooks: deterministic seeding (first
    * `k` vectors by id), `iters` Lloyd rounds per subspace over the
    * unit-normalized corpus. Only the m·k·sub model is collected. */
  def train(corpus0: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 4, k: Int = 16, iters: Int = 2,
      sampleFraction: Double = 1.0): Model = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    Registry.registerAll(corpus0.sparkSession)
    // normalized once for all subspaces and every Lloyd round — and
    // sampled first when asked: quantizer quality needs ~100·k
    // vectors, not the corpus
    val corpus = {
      val base =
        if (sampleFraction >= 1.0) corpus0
        else corpus0.sample(withReplacement = false, sampleFraction, 42L)
      base.select(col(idCol).as("id"), unit(col(vecCol)).as("v"))
        .materialize()
    }
    val seedRows = corpus.orderBy("id").limit(k).select("v").collect()
      .map(_.getSeq[Double](0))
    require(seedRows.nonEmpty, "PQ training input has no vectors")
    require(sampleFraction >= 1.0 || seedRows.length == k,
      s"sample yielded only ${seedRows.length} vectors for k=$k codes — " +
        "raise sampleFraction or lower k")
    val init = (0 until m).map { j =>
      seedRows.zipWithIndex
        .map { case (v, i) => i -> v.slice(j * sub, j * sub + sub).toSeq }
        .toSeq
    }
    var model = Model(init, dim, m)
    for (_ <- 1 to iters) {
      // one corpus pass updates ALL subspaces: each row explodes to m
      // (subspace, code, subvector) rows; the per-position means are
      // `sub` scalar avg aggregates in ONE codegen hash agg over
      // m·k groups (r12 — the old per-element posexplode multiplied
      // the aggregation input by dim and needed a collect_list
      // reassembly pass; at corpus scale partial-agg rows per task
      // drop from m·k·sub to m·k)
      val assigned = corpus.select(col("v") +:
        (0 until m).map(j => model.codeExpr(col("v"), j).as(s"c$j")): _*)
      val exploded = assigned.select(explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), col(s"c$j").as("code"),
          slice(col("v"), j * sub + 1, sub).as("vj"))
      }: _*)).as("e"))
        .select(col("e.j"), col("e.code"), col("e.vj"))
      val aggs = (0 until sub).map(i =>
        avg(col("vj").getItem(i).cast("double")).as(s"m$i"))
      val means = exploded.groupBy("j", "code")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          (r.getInt(0), r.getInt(1),
            (0 until sub).map { i =>
              if (r.isNullAt(i + 2)) 0.0 else r.getDouble(i + 2) })
        }
      val bySub = means.groupBy(_._1)
      model = Model((0 until m).map { j =>
        // empty codes keep their previous centroid
        val prev = model.codebooks(j).toMap
        val upd = bySub.getOrElse(j, Array.empty)
          .map { case (_, c, v) => c -> v.toSeq }.toMap
        (prev ++ upd).toSeq.sortBy(_._1)
      }, dim, m)
    }
    model
  }

  /** [[train]] memoized per (corpus plan, geometry) — e_knn_pq and
    * e_knn_ivfpq train the IDENTICAL deterministic codebooks on the
    * same scan; see Ivf.trainCached for the keying rationale
    * (canonicalized plan, not frame identity) and the memo's rules. */
  def trainCached(corpus0: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 4, k: Int = 16, iters: Int = 2,
      sampleFraction: Double = 1.0): Model =
    cache((corpus0.queryExecution.analyzed.canonicalized, idCol, vecCol,
        dim, m, k, iters, sampleFraction))(
      train(corpus0, idCol, vecCol, dim, m, k, iters, sampleFraction))

  private val cache = new graft.util.Memos.Memo[(LogicalPlan, String, String,
    Int, Int, Int, Int, Double), Model](8, derived = true)

  /** Approximate top-k by ADC over the coded corpus, then exact
    * cosine re-rank of the top `rerankK` candidates per query. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, model: Model,
      rerankK: Int = 32): DataFrame = {
    require(rerankK >= k, s"rerankK $rerankK must cover k $k")
    Registry.registerAll(corpus.sparkSession)
    val m = model.m
    // codes are map-side; the raw vector rides along for the exact
    // re-rank (at 100 TB the re-rank instead joins the skinny ADC
    // winners back to the vector store by id — rerankK·|Q| rows)
    val coded = corpus.select(
      col(idCol).as("neighbor_id") +: col(vecCol).as("cv") +:
        sqrt(Knn.dot(col(vecCol), col(vecCol))).as("cn") +:
        (0 until m).map(j =>
          model.codeExpr(unit(col(vecCol)), j).as(s"c$j")): _*)
    val q = queries.select(
      col(idCol).as("query_id") +: col(vecCol).as("qv") +:
        sqrt(Knn.dot(col(vecCol), col(vecCol))).as("qn") +:
        (0 until m).map(j =>
          model.adcTableExpr(unit(col(vecCol)), j).as(s"t$j")): _*)
    val adc = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j") + 1)).reduce(_ + _)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    coded.join(broadcast(q), coded("neighbor_id") =!= q("query_id"))
      .withColumn("adc", adc)
      .withColumn("rka", row_number().over(wAdc))
      .filter(col("rka") <= rerankK)
      .select(col("query_id"), col("neighbor_id"),
        (Knn.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
  }

  /** IVF × PQ composition (the canonical large-scale ANN index,
    * Jégou et al. 2011 §V): IVF prunes WHICH vectors are scored —
    * the candidate join becomes a cell equi-join instead of plain
    * PQ's corpus-wide broadcast nested-loop — and PQ compresses HOW,
    * ADC over the codes inside the probed cells, then exact top-k
    * re-rank. At 100 TB the cell is the partition key and the scan
    * reads `nprobe/k_cells` of the corpus at 1/64th the bandwidth —
    * each factor multiplies, which is why every production ANN
    * system ships exactly this pair. */
  def topKWithIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, pq: Model, ivf: Ivf.Model,
      nprobe: Int = 4, rerankK: Int = 32): DataFrame = {
    require(rerankK >= k, s"rerankK $rerankK must cover k $k")
    Registry.registerAll(corpus.sparkSession)
    val m = pq.m
    val coded = corpus.select(
      col(idCol).as("neighbor_id") +: col(vecCol).as("cv") +:
        sqrt(Knn.dot(col(vecCol), col(vecCol))).as("cn") +:
        ivf.cellExpr(col(vecCol)).as("cell") +:
        (0 until m).map(j =>
          pq.codeExpr(unit(col(vecCol)), j).as(s"c$j")): _*)
    val q = queries.select(
        col(idCol).as("query_id") +: col(vecCol).as("qv") +:
          sqrt(Knn.dot(col(vecCol), col(vecCol))).as("qn") +:
          ivf.probeCellsExpr(col(vecCol), nprobe).as("cells") +:
          (0 until m).map(j =>
            pq.adcTableExpr(unit(col(vecCol)), j).as(s"t$j")): _*)
      .withColumn("cell", explode(col("cells"))).drop("cells")
    val adc = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j") + 1)).reduce(_ + _)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    coded.join(broadcast(q), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adc)
      .withColumn("rka", row_number().over(wAdc))
      .filter(col("rka") <= rerankK)
      .select(col("query_id"), col("neighbor_id"),
        (Knn.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
  }
}
