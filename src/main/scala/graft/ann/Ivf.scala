package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Registry
import graft.plans.Materialize._

/** IVF (inverted-file) approximate nearest neighbor: a coarse
  * k-means quantizer splits the corpus into cells; a query probes
  * only its `nprobe` nearest cells, so the search join is
  * cell-local instead of corpus-wide.
  *
  * The quantizer is trained with a few Lloyd rounds entirely in
  * DataFrames (assignment = argmax dot against broadcast-literal
  * centroids; update = per-dimension mean via posexplode), and only
  * the k·dim centroid matrix is ever collected — the model is
  * driver-sized, the data never is. At 100 TB the cell id becomes
  * the partition/bucket key so each probe reads `nprobe/k` of the
  * corpus.
  */
object Ivf {

  /** Normalized centroids, id → unit vector. */
  final case class Model(centroids: Seq[(Int, Seq[Double])], dim: Int) {
    /** Cell of a vector: argmax cosine over centroids (centroids are
      * unit, so dot = cosine up to the vector's own norm). */
    def cellExpr(v: Column): Column =
      array_max(array(centroids.map { case (id, c) =>
        struct(Knn.dot(v, typedlit(c)).as("score"), lit(id).as("cid"))
      }: _*)).getField("cid")

    /** The query's `nprobe` best cells, as an array column. */
    def probeCellsExpr(v: Column, nprobe: Int): Column =
      transform(
        slice(reverse(array_sort(array(centroids.map { case (id, c) =>
          struct(Knn.dot(v, typedlit(c)).as("score"), lit(id).as("cid"))
        }: _*))), 1, nprobe),
        s => s.getField("cid"))
  }

  private def normalize(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Train the coarse quantizer: deterministic seeding (first k
    * vectors by id), `iters` Lloyd rounds. `sampleFraction` < 1
    * trains on a deterministic sample — at 100 TB the quantizer
    * quality needs ~100·k vectors, not the corpus, and each Lloyd
    * round otherwise scans everything. */
  def train(corpus0: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int = 2, sampleFraction: Double = 1.0): Model = {
    // materialize the sample: the seed collect and every Lloyd round
    // read it, and an unpersisted sample is a filter over a full
    // corpus scan each time — the very cost sampling is meant to cut
    val corpus =
      if (sampleFraction >= 1.0) corpus0
      else corpus0.sample(withReplacement = false, sampleFraction, seed = 42L)
        .materialize()
    Registry.registerAll(corpus.sparkSession)
    val seeds = corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) =>
        // element-type agnostic (array<float> or array<double> — the
        // rest of the vector stack supports both)
        i -> normalize(r.getSeq[Number](0).map(_.doubleValue).toSeq)
      }.toSeq
    // an empty model would silently assign every row a null cell and
    // return zero neighbors; a sampling-caused shortfall degrades
    // recall. A corpus genuinely smaller than k is a valid model.
    require(seeds.nonEmpty, "IVF training input has no vectors — " +
      "empty corpus or sampleFraction too small")
    require(sampleFraction >= 1.0 || seeds.length == k,
      s"sample yielded only ${seeds.length} vectors for k=$k cells — " +
        "raise sampleFraction or lower k (a silent short model would " +
        "degrade recall)")
    var model = Model(seeds, dim)
    for (_ <- 1 to iters) {
      val assigned = corpus.select(col(vecCol).as("v"),
        model.cellExpr(col(vecCol)).as("cell"))
      // per-position means as `dim` scalar avg aggregates in ONE
      // codegen hash agg over k groups (r12): the posexplode form
      // multiplied the aggregation input by dim (every vector became
      // 64 rows) and needed a second collect_list pass to reassemble
      // positions. Measured PARITY at sf0.1 (0.89 → 0.97 s warm,
      // window noise — training there is codegen+collect bound, not
      // agg bound); kept for the at-scale shape: partial-agg rows
      // per task drop from k·dim to k and the explode disappears
      val aggs = (0 until dim).map(i =>
        avg(col("v").getItem(i).cast("double")).as(s"m$i"))
      val means = assigned.groupBy("cell").agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          r.getInt(0) -> normalize((0 until dim).map { i =>
            if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1) })
        }.toSeq
      // empty cells keep their previous centroid
      val kept = model.centroids.toMap ++ means.toMap
      model = Model(kept.toSeq.sortBy(_._1), dim)
    }
    model
  }

  /** [[train]] memoized per (corpus plan, geometry) — e_knn_ivf and
    * e_knn_ivfpq train the IDENTICAL deterministic quantizer on the
    * same scan (Lloyd from id-ordered seeds, fixed sample seed), so
    * the second training pass was pure duplicate work. Keyed on the
    * CANONICALIZED analyzed plan, by structural equality — the match
    * Spark's CacheManager uses (Tables.* builds a fresh frame per
    * call, so instance identity — the lpaCache key — would never hit;
    * a 32-bit plan hash could hand one corpus another's model). A
    * derived memo: the bench's reset protocol clears it between
    * passes, and racing first calls train once. */
  def trainCached(corpus0: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, iters: Int = 2,
      sampleFraction: Double = 1.0): Model =
    cache((corpus0.queryExecution.analyzed.canonicalized, idCol, vecCol,
        dim, k, iters, sampleFraction))(
      train(corpus0, idCol, vecCol, dim, k, iters, sampleFraction))

  private val cache = new graft.util.Memos.Memo[(LogicalPlan, String, String,
    Int, Int, Int, Double), Model](8, derived = true)

  /** Approximate top-k: per query, exact cosine rank over the
    * vectors in its `nprobe` best cells. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, model: Model,
      nprobe: Int = 4): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(Knn.dot(col(vecCol), col(vecCol))).as("cn"),
      model.cellExpr(col(vecCol)).as("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        sqrt(Knn.dot(col(vecCol), col(vecCol))).as("qn"),
        model.probeCellsExpr(col(vecCol), nprobe).as("cells"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("cells")).as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Knn.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }
}
