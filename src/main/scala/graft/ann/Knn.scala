package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Registry
import graft.plans.Materialize._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine similarity = `graft_dot(a,b) / (norm_a · norm_b)` where
  * `graft_dot` is a native expression doing the double-precision
  * left-to-right fold in a tight loop — the same arithmetic as the
  * SQL oracle (`list_sum(list_transform(…))`), ~100× faster than
  * the interpreted higher-order-function form. Norms are computed
  * once per vector (O(n)), never per pair (O(n²)).
  *
  * Brute force = broadcast(queries) ⨯ one scan of the corpus — the
  * scalable baseline when the query set is small. The LSH variant
  * buckets both sides with deterministic random-hyperplane signs so
  * the per-bucket join is local; recall vs brute force is pinned in
  * AnnSpec.
  */
object Knn {

  def dot(a: Column, b: Column): Column = Registry.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def withNorm(df: DataFrame, idAs: String, vecAs: String,
      normAs: String, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      sqrt(dot(col(vecCol), col(vecCol))).as(normAs))

  /** Exact top-k cosine neighbors of each query vector.
    * `queries` must be small (it is broadcast). Self-pairs excluded. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val q = withNorm(queries, "query_id", "qv", "qn", idCol, vecCol)
    val c = withNorm(corpus, "neighbor_id", "cv", "cn", idCol, vecCol)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Filtered vector search — top-k under a metadata predicate (the
    * "filtered ANN" every production vector store ships; here the
    * constraint is label equality, the common tenant/category case).
    * The filter applies BEFORE scoring as part of the join
    * condition, so the equality turns the broadcast nested-loop
    * into a BroadcastHashJoin on the label: cheaper than the
    * unfiltered brute scan, not a post-filter that starves k. At
    * IVF/SQ scale the same predicate pushes into the cell/code scan
    * unchanged. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, dim: Int, k: Int): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), sqrt(dot(col(vecCol), col(vecCol))).as("qn"),
      col(labelCol).as("qlabel"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), sqrt(dot(col(vecCol), col(vecCol))).as("cn"),
      col(labelCol).as("clabel"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), col("clabel") === col("qlabel") &&
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("clabel").as("label"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** All pairs with cosine ≥ threshold (embedding near-dup dedup). */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val a = withNorm(corpus, "a", "va", "na", idCol, vecCol)
    val b = withNorm(corpus, "b", "vb", "nb", idCol, vecCol)
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      // zero-norm vectors give 0/0 = NaN, which Spark orders ABOVE
      // every double — an unguarded >= would assert similarity
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
  }

  /** Nearest-centroid assignment: per-label mean centroids (exact
    * column means, quantized to 6 decimals so cross-engine/
    * cross-order float summation can't flip a downstream rounding),
    * then every vector labeled with its max-cosine centroid —
    * semantic-cluster assignment / centroid-classifier scoring over
    * a corpus. The centroid table is tiny (labels × dim) and is
    * BROADCAST over one corpus scan, so the heavy side never
    * shuffles; the centroid build itself is one partial-agg shuffle
    * on (label, pos). Ties broken toward the smallest label. */
  def centroidAssign(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    // only the labels × dim centroid matrix is collected (the Ivf
    // model contract) — the corpus never moves: assignment below is
    // a map-side argmax over literal centroids, not a cross join +
    // per-vector window, whose partitionBy(id) would shuffle
    // labels × corpus rows at scale
    val cents = corpus
      .select(col(labelCol).as("c_label"),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy("c_label", "__pos")
      .agg(avg(col("__v")).as("__cv"))
      .groupBy("c_label")
      // array_sort on (pos, cv) structs orders by pos — re-assembling
      // the centroid in dimension order regardless of row order
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__cv")))),
        s => round(s.getField("__cv"), 6)).as("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    require(cents.nonEmpty, "centroidAssign: corpus has no labeled vectors")
    val v = col(vecCol)
    // the vector's norm is materialized ONCE as a projection column —
    // inlined it would be re-evaluated inside every per-label branch
    val scored = corpus.select(col(idCol), col(labelCol), v,
        sqrt(dot(v, v)).as("__vn"))
      // max over (sim, -label, label) structs: best cosine, ties
      // toward the smallest label; centroid norms are driver-side
      // constants folded into each branch
      .withColumn("__best", array_max(array(cents.map { case (id, c) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        struct((dot(v, typedlit(c)) / (col("__vn") * lit(cn))).as("score"),
          lit(-id).as("negid"), lit(id).as("lab"))
      }: _*)))
      .select(col(idCol), col(labelCol),
        col("__best").getField("lab").as("assigned_label"),
        col("__best").getField("score").as("sim"))
    scored
  }

  /** SemDeDup-style semantic dedup: cluster the corpus (nearest
    * mean-centroid assignment, deterministic — [[centroidAssign]]),
    * then drop every vector that has a CLUSTER-MATE with smaller id
    * and cosine ≥ `threshold`. Returns the dropped rows with their
    * canonical keeper (`dup_of` = smallest qualifying mate) and the
    * similarity to it.
    *
    * Scale shape: the pair join is cluster-LOCAL (equi-join on the
    * assigned label) — the SemDeDup trick that makes semantic dedup
    * tractable at corpus scale: clusters bound the quadratic term,
    * cross-cluster pairs are never enumerated. With k centroids the
    * work is Σ|cluster|², not n²; more centroids = finer buckets,
    * exactly like IVF cells. Assignment itself is one broadcast
    * argmax scan. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int, threshold: Double): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val assigned = centroidAssign(corpus, idCol, vecCol, labelCol, dim)
      .select(col(idCol).as("id"), col("assigned_label").as("cl"))
    val base = withNorm(corpus, "id", "v", "nm", idCol, vecCol)
      .join(assigned, "id")
    clusterLocalKeepers(base, "cl", idCol, threshold)
  }

  /** The shared tail of both SemDeDup forms: within-cell pair join,
    * cosine verification at `threshold`, canonical min-id keeper per
    * dropped vector. Expects (`cellCol`, id, v, nm) columns. */
  private def clusterLocalKeepers(base: DataFrame, cellCol: String,
      idCol: String, threshold: Double): DataFrame = {
    val x = base.select(col(cellCol), col("id").as("a"),
      col("v").as("va"), col("nm").as("na"))
    val y = base.select(col(cellCol), col("id").as("b"),
      col("v").as("vb"), col("nm").as("nb"))
    x.join(y, cellCol)
      .filter(col("b") < col("a"))
      .select(col(cellCol), col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .groupBy(col(cellCol), col("a"))
      .agg(min("b").as("dup_of"), min_by(col("sim"), col("b")).as("sim"))
      .select(col("a").as(idCol), col(cellCol).as("cluster"),
        col("dup_of"), col("sim"))
  }

  /** The SCALE form of [[semDedup]]. Label-centroid SemDeDup has a
    * fixed cluster count, so clusters grow linearly with the corpus
    * and the cluster-local pair join goes quadratic — the 64× probe
    * measured exactly that (40× wall per 8× data). Published
    * SemDeDup scales k WITH the corpus; here k = n/targetClusterSize,
    * centroids are k-means over a deterministic seed set with
    * `iters` Lloyd refinements, and the within-cluster work is
    * ~n·targetClusterSize/2 — linear in n at fixed target.
    *
    * Assignment is a broadcast centroid MATRIX + per-row argmax UDF,
    * not a Column expression: k is data-derived and reaches tens of
    * thousands, and an argmax expression over k struct literals
    * bloats the plan and falls out of codegen — this is the genuine
    * per-partition-numeric-loop case the architecture notes reserve
    * UDFs for. The matrix is k×dim doubles (a 2000-cluster model is
    * ~1 MB). The k cap (2^16 ≈ 33 MB of centroids at dim 64) is a
    * broadcast bound, not an asymptotic fix: past n ≈ cap·target the
    * per-cluster size grows again — at that regime raise
    * targetClusterSize, or extend the two-level router to a deeper
    * tree with sharded centroid storage (the same construction, one
    * more level). */
  def semDedupScaled(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, targetClusterSize: Int = 1024,
      iters: Int = 2): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val base = withNorm(corpus, "id", "v", "nm", idCol, vecCol)
      .materialize()
    val n = base.count()
    val k = math.max(1, math.min((n / targetClusterSize).toInt, 1 << 16))
    def normalize(a: Array[Double]): Array[Double] = {
      val nm = math.sqrt(a.map(x => x * x).sum)
      if (nm == 0) a else a.map(_ / nm)
    }
    // Lloyd refinement runs over a CAPPED deterministic sample —
    // training cost is bounded at any corpus size (the standard
    // sampled-k-means trade; only the one final assignment pass
    // touches every row), and the sample is persisted so each round
    // re-reads it instead of re-scanning the corpus (persist, not
    // localCheckpoint: it can be explicitly unpersisted after
    // training instead of squatting in the block manager — which the
    // storage-priced agg budgets elsewhere would otherwise have to
    // absorb)
    val maxTrain = math.max(k * 8L, 100000L)
    val train = (if (n <= maxTrain) base
      else base.sample(withReplacement = false,
        maxTrain.toDouble / n, seed = 42L)).persist()
    var cents = train.orderBy("id").limit(k).select(col("v")).collect()
      .map(r => normalize(r.getSeq[Number](0).map(_.doubleValue).toArray))
    // Flat argmax is n·k·dim work — QUADRATIC in n once k ∝ n (the
    // first 64× probe of this operator measured exactly that: the
    // assignment pass, not the pair join, was the 45×-per-octave
    // term). Assignment therefore routes TWO-LEVEL, the standard
    // IVF-of-centroids shape: ~√k coarse cells over the centroids
    // (driver-side Lloyd — k vectors, trivial), each row probes the
    // top-2 coarse cells and argmaxes only their members —
    // ~3√k·dim per row, n^1.5 total; deeper trees generalize it to
    // n·log k when k gets truly large.
    // Array-to-array dot/argmax for the driver-side quantizer build:
    // no Seq boxing, no double→float loss (at the k cap the build is
    // k·√k·dim·rounds ≈ 10^10 ops — boxed access would turn seconds
    // of driver time into minutes)
    def argmaxArr(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestDot = Double.MinValue
      var j = 0
      while (j < cs.length) {
        val c = cs(j); var d = 0.0
        var i = 0; val lim = math.min(c.length, v.length)
        while (i < lim) { d += c(i) * v(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = j }
        j += 1
      }
      best
    }
    // DEEPER-TREE router (r10 verdict #4 — the scaladoc'd n·log k
    // escape, now real): past `graft.semdedup.treeK` centroids
    // (default 4096) the two-level form's √k coarse scan + √k-sized
    // member lists make assignment n^1.5 — with k ∝ n that walls a
    // few octaves out even after the r10 constant-factor fixes. The
    // tree splits the centroid set recursively (branch ~32, the same
    // mini-Lloyd + non-metric chunk fallback discipline as the
    // two-level balancer, so progress is guaranteed even on
    // near-identical centroid mass) down to constant-size leaves;
    // a row descends with a width-2 beam — per level: ≤2·branch rep
    // dots — and flat-argmaxes the top-2 leaves' members: O(log k)
    // dots per row, n·log k total. Below the threshold the
    // two-level code runs byte-identically to r10.
    sealed trait TNode extends Serializable
    case class TLeaf(members: Array[Int]) extends TNode
    case class TInner(reps: Array[Array[Double]], kids: Array[TNode])
      extends TNode
    val treeK = corpus.sparkSession.conf
      .getOption("graft.semdedup.treeK")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(4096)

    def argmaxArr0(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestDot = Double.MinValue
      var j = 0
      while (j < cs.length) {
        val c = cs(j); var d = 0.0
        var i = 0; val lim = math.min(c.length, v.length)
        while (i < lim) { d += c(i) * v(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = j }
        j += 1
      }
      best
    }

    /** Split `ids` (indices into cs) into ≤ `parts` balanced groups:
      * 3-round mini-Lloyd over the member centroids; groups the
      * metric pass cannot separate (near-identical centroid mass)
      * fall back to order-chunking with chunk-mean reps — the same
      * hard-progress guarantee as the two-level balancer. */
    def lloydSplit(cs: Array[Array[Double]], ids: Array[Int],
        parts: Int, leafCapOf: Int): Array[(Array[Double], Array[Int])] = {
      var sub = Array.tabulate(parts)(i =>
        cs(ids((i.toLong * ids.length / parts).toInt)).clone)
      var assign: Array[Int] = null
      for (_ <- 1 to 3) {
        assign = ids.map(m => argmaxArr0(sub, cs(m)))
        val sums = Array.fill(parts)(new Array[Double](dim))
        val cnts = new Array[Int](parts)
        for (i <- ids.indices) {
          val c = cs(ids(i)); val a = assign(i)
          val lim = math.min(dim, c.length)
          var d = 0; while (d < lim) { sums(a)(d) += c(d); d += 1 }
          cnts(a) += 1
        }
        sub = sub.indices.map(i =>
          if (cnts(i) == 0) sub(i)
          else normalize(sums(i).map(_ / cnts(i)))).toArray
      }
      val grouped = (0 until parts).map(g =>
        ids.indices.collect { case i if assign(i) == g => ids(i) }.toArray)
        .filter(_.nonEmpty)
      // HARD geometric shrinkage (r11 2048× finding): on
      // near-identical centroid mass the metric split "succeeds" with
      // one group holding ~90% — technically progress, but recursion
      // depth then grows linearly (measured depth 28 where branch 32
      // predicts 3, and the beam pays 2·branch dots PER LEVEL). Any
      // child above a QUARTER of the parent is order-chunked into
      // quarter-sized pieces — the same non-metric fallback rationale
      // as the two-level balancer — bounding depth at
      // log₄(k/leafCap)+O(1) while leaving genuinely separated
      // metric clusters (≤ n/4 each) untouched. The floor is leafCap,
      // NOT the parts-derived average (near the leaves parts → 2 and
      // an average-based bound stops shrinking anything — measured
      // depth 14-18 from lopsided [n−1, 1] tail cascades).
      val maxChild = math.max(leafCapOf, ids.length / 4)
      grouped.toArray.flatMap { g =>
        if (g.length <= maxChild) Array((meanRep(cs, g), g))
        else {
          val chunks = math.max(2, (g.length + maxChild - 1) / maxChild)
          (0 until chunks).flatMap { c =>
            val lo = (c.toLong * g.length / chunks).toInt
            val hi = ((c + 1).toLong * g.length / chunks).toInt
            if (hi > lo) {
              val piece = java.util.Arrays.copyOfRange(g, lo, hi)
              Some((meanRep(cs, piece), piece))
            } else None
          }.toArray
        }
      }
    }

    def meanRep(cs: Array[Array[Double]], ids: Array[Int]): Array[Double] = {
      val m = new Array[Double](dim)
      ids.foreach { id =>
        val c = cs(id); val lim = math.min(dim, c.length)
        var d = 0; while (d < lim) { m(d) += c(d); d += 1 }
      }
      normalize(m.map(_ / ids.length))
    }

    def buildTree(cs: Array[Array[Double]], ids: Array[Int],
        leafCap: Int, branch: Int): TNode =
      if (ids.length <= leafCap) TLeaf(ids)
      else {
        val parts = math.min(branch,
          math.max(2, (ids.length + leafCap - 1) / leafCap))
        val groups = lloydSplit(cs, ids, parts, leafCap)
        if (groups.length <= 1) TLeaf(ids) // cannot split further
        else TInner(groups.map(_._1),
          groups.map(g => buildTree(cs, g._2, leafCap, branch)))
      }

    def treeUdf(cs: Array[Array[Double]]) = {
      val leafCap = 128
      val root = buildTree(cs, cs.indices.toArray, leafCap, 32)
      udf { (v: Seq[Double]) =>
        if (v == null) null
        else {
          val a = v.toArray
          def score(rep: Array[Double]): Double = {
            var d = 0.0; var i = 0
            val lim = math.min(rep.length, a.length)
            while (i < lim) { d += rep(i) * a(i); i += 1 }
            d
          }
          // width-2 beam down the levels, ALLOCATION-FREE (the List/
          // sortBy form allocated ~depth × branch boxed tuples per
          // ROW — billions at the 4096× rung, and the allocation
          // churn, not the dot products, dominated the stage): track
          // the top-2 scored frontier nodes and top-2 scored leaves
          // with scalars only
          var f1: TNode = root; var fs1 = 0.0
          var f2: TNode = null; var fs2 = Double.MinValue
          var l1: TLeaf = null; var ls1 = Double.MinValue
          var l2: TLeaf = null; var ls2 = Double.MinValue
          def offerLeaf(l: TLeaf, d: Double): Unit =
            if (l1 == null || d > ls1) {
              if (l1 != null && (l ne l1)) { l2 = l1; ls2 = ls1 }
              l1 = l; ls1 = d
            } else if ((l2 == null || d > ls2) && (l ne l1)) {
              l2 = l; ls2 = d
            }
          var live = true
          while (live) {
            var b1: TNode = null; var d1 = Double.MinValue
            var b2: TNode = null; var d2 = Double.MinValue
            var expanded = false
            var fi = 0
            while (fi < 2) {
              val f = if (fi == 0) f1 else f2
              val fscore = if (fi == 0) fs1 else fs2
              f match {
                case TInner(reps, kids) =>
                  expanded = true
                  var j = 0
                  while (j < reps.length) {
                    val d = score(reps(j))
                    if (d > d1) { b2 = b1; d2 = d1; b1 = kids(j); d1 = d }
                    else if (d > d2) { b2 = kids(j); d2 = d }
                    j += 1
                  }
                case l: TLeaf =>
                  // an early leaf (unbalanced tree) competes by its
                  // own path score for the final top-2 leaf set
                  offerLeaf(l, fscore)
                case null => ()
              }
              fi += 1
            }
            if (!expanded) live = false
            else {
              // leaf children enter the leaf top-2 with their rep
              // score; inner children become the next frontier
              f1 = null; f2 = null
              if (b1 != null) b1 match {
                case l: TLeaf => offerLeaf(l, d1)
                case n => f1 = n; fs1 = d1
              }
              if (b2 != null) b2 match {
                case l: TLeaf => offerLeaf(l, d2)
                case n =>
                  if (f1 == null) { f1 = n; fs1 = d2 }
                  else { f2 = n; fs2 = d2 }
              }
              if (f1 == null && f2 == null) live = false
            }
          }
          var best = 0; var bestDot = Double.MinValue
          var li = 0
          while (li < 2) {
            val l = if (li == 0) l1 else l2
            if (l != null) {
              val ms = l.members
              var mi = 0
              while (mi < ms.length) {
                val d = score(cs(ms(mi)))
                if (d > bestDot) { bestDot = d; best = ms(mi) }
                mi += 1
              }
            }
            li += 1
          }
          Integer.valueOf(best)
        }: java.lang.Integer
      }
    }

    def argmaxUdf(cs: Array[Array[Double]]) = if (cs.length > treeK)
      treeUdf(cs)
    else {
      val k1 = math.max(1, math.ceil(math.sqrt(cs.length)).toInt)
      // driver-side Lloyd over the CENTROIDS (cs.length vectors)
      var coarse = cs.take(k1).map(_.clone)
      for (_ <- 1 to 3) {
        val sums = Array.fill(k1)(new Array[Double](dim))
        val cnts = new Array[Int](k1)
        cs.foreach { c =>
          val a = argmaxArr(coarse, c)
          val lim = math.min(dim, c.length)
          var i = 0; while (i < lim) { sums(a)(i) += c(i); i += 1 }
          cnts(a) += 1
        }
        coarse = coarse.indices.map(j =>
          if (cnts(j) == 0) coarse(j)
          else normalize(sums(j).map(_ / cnts(j)))).toArray
      }
      // ghost coarse cells (no member centroids) are EXCLUDED from
      // the row-level scoring: a stale empty cell that won a row's
      // top-2 would fall through to centroid 0 regardless of
      // similarity — silent recall loss into one inflated cluster
      val memberOf = {
        val m = Array.fill(k1)(List.newBuilder[Int])
        cs.zipWithIndex.foreach { case (c, j) => m(argmaxArr(coarse, c)) += j }
        m.map(_.result().toArray)
      }
      // BALANCE the coarse cells (r10 2048× finding): Lloyd over the
      // centroids leaves heavy cells — measured maxMembers 20× the
      // k/k1 average on the elongated replica corpus — and a row
      // probing a heavy top-2 cell pays its whole member list, so
      // the assignment's constant silently grows with imbalance, not
      // just with n^1.5. Any cell over ~2× the average is split by a
      // mini-Lloyd over ITS member centroids into average-sized
      // subcells (one driver-side pass over k vectors), bounding the
      // per-row member work at ~2 × 2·(k/k1)·dim regardless of how
      // the centroid mass clusters. The split adds ≤ k1/2-ish coarse
      // entries, so the coarse scan term stays O(√k)·dim.
      val capM = math.max(8, 2 * (cs.length + k1 - 1) / k1)
      val balanced = Array.newBuilder[(Array[Double], Array[Int])]
      for (j <- memberOf.indices; ms = memberOf(j) if ms.nonEmpty) {
        if (ms.length <= capM) balanced += ((coarse(j), ms))
        else {
          val parts = (ms.length + capM - 1) / capM
          var sub = Array.tabulate(parts)(i =>
            cs(ms((i.toLong * ms.length / parts).toInt)).clone)
          var assign: Array[Int] = null
          for (_ <- 1 to 3) {
            assign = ms.map(m => argmaxArr(sub, cs(m)))
            val sums = Array.fill(parts)(new Array[Double](dim))
            val cnts = new Array[Int](parts)
            for (i <- ms.indices) {
              val c = cs(ms(i)); val a = assign(i)
              val lim = math.min(dim, c.length)
              var d = 0; while (d < lim) { sums(a)(d) += c(d); d += 1 }
              cnts(a) += 1
            }
            sub = sub.indices.map(i =>
              if (cnts(i) == 0) sub(i)
              else normalize(sums(i).map(_ / cnts(i)))).toArray
          }
          for (i <- sub.indices) {
            val mem = ms.indices.collect {
              case x if assign(x) == i => ms(x) }.toArray
            // NON-METRIC fallback (r10 2048× residual): when the
            // member centroids are near-identical — one dup family's
            // centroid mass — the metric mini-Lloyd cannot separate
            // them (measured: maxMembers 1705 at 2048× after
            // splitting) and a row probing the cell pays the whole
            // list. Chunk such a sub-cell by member ORDER into
            // capM-sized pieces, each represented by its chunk mean.
            // This does not degrade assignment quality beyond what
            // k-means already did: near-identical centroids define an
            // arbitrary partition of the dense region regardless of
            // how a row argmaxes over them (the flat scan spreads a
            // family across them just as arbitrarily), so bounding
            // the probe to one chunk trades nothing measurable for a
            // hard per-row work cap. Deterministic: chunking follows
            // the centroid index order, representatives are means.
            if (mem.isEmpty) {}
            else if (mem.length <= 2 * capM) balanced += ((sub(i), mem))
            else {
              val chunks = (mem.length + capM - 1) / capM
              var c = 0
              while (c < chunks) {
                val lo = (c.toLong * mem.length / chunks).toInt
                val hi = ((c + 1).toLong * mem.length / chunks).toInt
                if (hi > lo) {
                  val piece = java.util.Arrays.copyOfRange(mem, lo, hi)
                  val mean = new Array[Double](dim)
                  piece.foreach { m =>
                    val v = cs(m); val lim = math.min(dim, v.length)
                    var d = 0; while (d < lim) { mean(d) += v(d); d += 1 }
                  }
                  balanced += ((normalize(mean.map(_ / piece.length)),
                    piece))
                }
                c += 1
              }
            }
          }
        }
      }
      val bal = balanced.result()
      val coarseLive = bal.map(_._1)
      val membersLive = bal.map(_._2)
      // input arrives cast to array<double> (see call sites): float
      // corpora upcast losslessly, double corpora keep full precision
      // — a Seq[Float] signature would silently truncate doubles and
      // route borderline vectors differently than the label form
      udf { (v: Seq[Double]) =>
        if (v == null) null
        else {
          // ONE bulk copy to a primitive array before the hot loops:
          // Seq[Double].apply goes through the unspecialized Seq
          // interface, boxing every element — at 3√k·dim accesses per
          // row × corpus rows that boxing was a measured multiple of
          // the whole assignment stage (r10 ladder; toArray on
          // Spark's ArraySeq-of-double is one specialized arraycopy)
          val a = v.toArray
          // top-2 live coarse cells, then flat argmax over members
          var b1 = 0; var d1 = Double.MinValue
          var b2 = 0; var d2 = Double.MinValue
          var j = 0
          while (j < coarseLive.length) {
            val c = coarseLive(j); var d = 0.0; var i = 0
            val lim = math.min(c.length, a.length)
            while (i < lim) { d += c(i) * a(i); i += 1 }
            if (d > d1) { b2 = b1; d2 = d1; b1 = j; d1 = d }
            else if (d > d2) { b2 = j; d2 = d }
            j += 1
          }
          var best = 0; var bestDot = Double.MinValue
          for (cell <- Seq(b1, b2).distinct; m <- membersLive(cell)) {
            val c = cs(m); var d = 0.0; var i = 0
            val lim = math.min(c.length, a.length)
            while (i < lim) { d += c(i) * a(i); i += 1 }
            if (d > bestDot) { bestDot = d; best = m }
          }
          Integer.valueOf(best)
        }: java.lang.Integer
      }
    }
    for (_ <- 1 to iters) {
      // assignment materialized BEFORE the explode (via the exchange
      // an explicit repartition inserts — no resident checkpoint
      // copies): fused into the same projection, the UDF would
      // re-evaluate once per exploded element (dim× the work —
      // measured as a 10-minute hang at 8×)
      val assigned = train.select(argmaxUdf(cents)(col("v").cast("array<double>")).as("cell"),
          col("v"))
        .repartition(train.sparkSession.sparkContext.defaultParallelism)
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cell").agg(map_from_arrays(
          collect_list(col("pos")), collect_list(col("m"))).as("byPos"))
        .collect()
        .map { r =>
          val byPos = r.getMap[Int, Double](1)
          r.getInt(0) -> normalize(
            Array.tabulate(dim)(i => byPos.getOrElse(i, 0.0)))
        }.toMap
      cents = cents.indices.map(j => means.getOrElse(j, cents(j))).toArray
    }
    train.unpersist()
    val parts = base.sparkSession.sparkContext.defaultParallelism * 4
    val withCell = base.withColumn("cell",
        argmaxUdf(cents)(col("v").cast("array<double>")))
      .repartition(parts, col("cell"))
      .materialize()
    // NOT clusterLocalKeepers (the label form keeps it): the all-pairs
    // cluster-local join evaluates S²/2 dots per S-member cell, and on
    // a dup-DENSE cell — the exact cell SemDeDup exists to find — that
    // is quadratic in the duplicate multiplicity. Measured: the r10
    // 512× ladder cell came in at 3.85×/doubling (2164 s stacked)
    // because the probe corpus's duplicate families double with the
    // corpus, so the surviving-pair volume quadruples per octave
    // while everything else stays linear. The semantics only need,
    // PER ROW, the smallest-id same-cell member above threshold — an
    // argfirst, not an all-pairs set — so the scan below sorts each
    // cell by id once and early-exits each row at its first
    // qualifying partner: O(S) per dup-dense cell (first probe hits),
    // degrading toward the join's O(S²) only on all-stranger cells,
    // where the join produced nothing for the cost either. Cells are
    // k∝n-bounded (~targetClusterSize × dup multiplicity), so the
    // per-task group fits comfortably in memory. (The scan itself
    // executes at the caller's action.)
    cellKeepersScan(withCell, "cell", idCol, threshold)
  }

  /** Per-cell early-exit argfirst (see semDedupScaled): for each
    * member `a`, the smallest-id same-cell member `b < a` with
    * cosine ≥ threshold, emitted as (id, cluster, dup_of, sim) — the
    * exact rows clusterLocalKeepers' join+min_by aggregation
    * produces, without materializing the quadratic pair stream. The
    * dot accumulates ascending float→double exactly like the codegen
    * kernel (functions.VectorExpressions.DotProductExpr), so the
    * emitted sims are bit-identical to the join form's.
    *
    * PRECONDITION: `withCell` must arrive hash-partitioned by
    * `cellCol` (semDedupScaled materializes it that way) — this scan
    * adds NO exchange of its own, so a cell split across partitions
    * would silently lose cross-partition pairs.
    *
    * Shape (rewritten from groupByKey/flatMapGroups after the r12
    * 8192× attribution probe, tools/semscan_r12.txt): the typed
    * groupByKey path cost a second 16.8M-row exchange, a SQL sort by
    * key PLUS a boxed per-group sortBy, and — the dominant term —
    * the tuple ENCODER decode at 912 s task-summed CPU (vs sort 145 s,
    * scan 308 s: 67% of in-lambda CPU; `array<float>` with
    * containsNull=true forces the deserializer through a per-element
    * boxing loop, ~1B boxed floats at 16.4M rows). The same probe
    * measured dots/rows = 1.001 — the argfirst really is O(1) probes
    * per row on dup-dense corpora, so the scan itself was never the
    * wall and the theorized quadratic tail does not exist there. Now: ONE
    * Tungsten `sortWithinPartitions(cell, id)` over the pre-
    * partitioned frame (no exchange — localCheckpoint preserves
    * physical partitioning; replaces both sorts), then an
    * InternalRow cursor that copies each vector out with ONE bulk
    * `toFloatArray` (no per-element boxing; the cursor row is reused
    * by Spark, so every kept field is copied before advancing). */
  private def cellKeepersScan(withCell: DataFrame, cellCol: String,
      idCol: String, threshold: Double): DataFrame = {
    val spark = withCell.sparkSession
    val sorted = withCell
      .select(col(cellCol).cast("int").as("cell"), col("id"),
        col("v").cast("array<float>").as("v"), col("nm"))
      .sortWithinPartitions("cell", "id")
    val outRows = sorted.queryExecution.toRdd.mapPartitions { it =>
      // growable PRIMITIVE buffers for the current cell (a generic
      // ArrayBuffer[Long] would box every element right back)
      var cap = 1024
      var n = 0
      var ids = new Array[Long](cap)
      var nms = new Array[Double](cap)
      var vecs = new Array[Array[Float]](cap)
      var cur = 0
      var any = false
      def flush(): Iterator[org.apache.spark.sql.Row] = {
        if (n == 0) Iterator.empty
        else {
          val out = Array.newBuilder[org.apache.spark.sql.Row]
          var i = 1
          while (i < n) {
            val va = vecs(i); val na = nms(i); val ida = ids(i)
            var j = 0
            var found = false
            while (j < i && !found) {
              val vb = vecs(j)
              var s = 0.0
              var d = 0
              val lim = math.min(va.length, vb.length)
              while (d < lim) { s += va(d).toDouble * vb(d).toDouble; d += 1 }
              val sim = s / (na * nms(j))
              if (!sim.isNaN && sim >= threshold) {
                out += org.apache.spark.sql.Row(ida, cur, ids(j), sim)
                found = true
              }
              j += 1
            }
            i += 1
          }
          n = 0
          out.result().iterator
        }
      }
      it.flatMap { row =>
        val cell = row.getInt(0)
        val pre = if (any && cell != cur) flush() else Iterator.empty
        cur = cell; any = true
        if (n == cap) {
          cap *= 2
          ids = java.util.Arrays.copyOf(ids, cap)
          nms = java.util.Arrays.copyOf(nms, cap)
          vecs = java.util.Arrays.copyOf(vecs, cap)
        }
        ids(n) = row.getLong(1)
        vecs(n) = row.getArray(2).toFloatArray()
        nms(n) = row.getDouble(3)
        n += 1
        pre
      } ++ flush()
    }
    spark.createDataFrame(outRows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("dup_of",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sim",
        org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Scale path for embedding near-dup: banded sign-LSH candidate
    * generation, then exact-cosine verification — the n² pair join
    * of [[nearDupPairs]] replaced by a per-(band, bucket) local join,
    * the same shape as the MinHash text pipeline. With `bands` bands
    * of `bitsPerBand` sign bits, P(candidate) = 1-(1-p^r)^b where
    * p = 1 - acos(sim)/π — at sim 0.8 and r=6/b=10 recall ≈ 0.94,
    * measured against the exact pairs in AnnSpec. Precision is exact
    * (every candidate is verified). */
  def nearDupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bands: Int = 10,
      bitsPerBand: Int = 6, maxBucket: Int = 500): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val base = withNorm(corpus, "id", "v", "nm", idCol, vecCol)
      .materialize()
    // NEGATIVE RESULT, kept on purpose: carrying the vectors through
    // the banded self-join and verifying inline (the shape that wins
    // for MinHash's firstMatch dedup) benched 7-10× SLOWER here —
    // sign buckets are skewed on mean-shifted embeddings, so the raw
    // pair stream is many times the unique pair count and every raw
    // row then hauls two 64-float arrays. Skinny (a, b) distinct +
    // broadcast-hash vector lookups keep the wide data out of the
    // fat stream entirely.
    //
    // TWO GUARDS make the candidate volume scale-safe (the 64× probe
    // caught the unguarded form writing ~1 TB of candidate shuffle
    // from 64-bucket bands over 1M vectors and dying on local disk):
    // (a) bits grow with the corpus — log2(n/256) keeps the MEAN
    // bucket ~256 at any n (6 bits at the gate corpus, unchanged
    // behavior; 12 at 1M; capped at 16 where band collision
    // probability, not bucket size, is the binding constraint);
    // (b) buckets larger than `maxBucket` are dropped from candidate
    // generation — an oversized SIGN bucket means the hyperplanes do
    // not discriminate that region (skew, not similarity), its pairs
    // are the quadratic tail, and true near-dups inside it are the
    // exact/MinHash passes' job (near-dup CLUSTERS are inherently
    // small relative to a degenerate region). With both guards the
    // candidate stream is ≤ bands·n·maxBucket/2 rows of two longs —
    // linear in n at fixed cap.
    val n = base.count()
    // INTEGER log2-ceiling, not ceil(log/log): the d_neardup_lsh
    // oracle replays this derivation in DuckDB, and two libm `log`s
    // can disagree by 1 ulp exactly at power-of-two boundaries
    // (n = 256·2^k), flipping ceil by one and diverging every bucket
    // in every band. ceilLog2(ceilDiv(n,256)) is the same value
    // computed exactly; the SQL mirror is the same integer argmin.
    val cells = (n + 255) / 256
    val ceilLog2 = if (cells <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)
    val bits = math.min(16, math.max(bitsPerBand, ceilLog2))
    val banded = base.select(col("id"), posexplode(array(
        (0 until bands).map(j =>
          lshBucketSeeded(col("v"), dim, bits, seed = j)): _*))
      .as(Seq("band", "bucket"))).materialize()
    val smallBuckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__sz")).filter(col("__sz") <= maxBucket)
      .drop("__sz")
    val pruned = banded.join(broadcast(smallBuckets), Seq("band", "bucket"))
    val cands = pruned.as("x").join(pruned.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    cands
      .join(base.select(col("id").as("a"), col("v").as("va"), col("nm").as("na")), "a")
      .join(base.select(col("id").as("b"), col("v").as("vb"), col("nm").as("nb")), "b")
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
  }

  /** Version id of [[hyperplanes]]' hash family, persisted by
    * incremental stores (EmbeddingDedupIndex `_meta.json`) so a
    * future family change turns into a loud reband-to-migrate error
    * instead of silently probing new-family buckets against
    * old-family rows. Bump this whenever the function below changes
    * its mapping. */
  val HyperplaneFamily = "md5p1"

  /** Deterministic ±1 hyperplanes for the sign-LSH bucketing (fixed
    * hash-derived pattern, no stored model). Derived from md5 over a
    * canonical cell string — NOT a JVM RNG and not XXH64 — so the
    * whole bucket computation is replayable by any engine with an
    * md5() builtin: the DuckDB oracles for e_knn_lsh / d_neardup_lsh
    * rebuild this exact table from the same strings (the g_walks
    * md5-argmin convention). Cost is driver-side and model-sized
    * (bits×dim md5 calls ≤ 1024 per band). */
  private[graft] def hyperplanes(dim: Int, bits: Int,
      seed: Long = 7L): Seq[Array[Double]] =
    (0 until bits).map { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val d = md.digest(s"lsh:$seed:$j:$i".getBytes("UTF-8"))
        // parity of the first hex digit (= high nibble of byte 0):
        // in SQL, strpos('13579bdf', substring(md5(s), 1, 1)) > 0
        if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
      }
    }

  /** [[lshBucket]] with an explicit hyperplane seed — each LSH band
    * draws its own independent hyperplane family. */
  private[graft] def lshBucketSeeded(v: Column, dim: Int, bits: Int,
      seed: Long): Column =
    hyperplanes(dim, bits, 1000003L * (seed + 1)).zipWithIndex.map {
      case (hp, j) =>
        when(dot(v, typedlit(hp.toSeq)) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random-hyperplane LSH bucket id: `bits` sign bits packed into a
    * long. Each bit is one native dot product against a literal
    * hyperplane — O(bits·dim) tight-loop work per row. */
  def lshBucket(v: Column, dim: Int, bits: Int): Column =
    hyperplanes(dim, bits).zipWithIndex.map { case (hp, j) =>
      when(dot(v, typedlit(hp.toSeq)) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: candidates limited to the query's LSH bucket
    * (single probe), ranked by exact cosine. Trades recall for a
    * bucket-local join; measured against brute force in AnnSpec. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, bits: Int = 8): DataFrame = {
    Registry.registerAll(corpus.sparkSession)
    val c = withNorm(corpus, "neighbor_id", "cv", "cn", idCol, vecCol)
      .withColumn("bucket", lshBucket(col("cv"), dim, bits))
    val q = withNorm(queries, "query_id", "qv", "qn", idCol, vecCol)
      .withColumn("bucket", lshBucket(col("qv"), dim, bits))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily pick k results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance
    * traded against redundancy with what's already picked.
    *
    * Scale shape: the DISTRIBUTED work is the candidate stage — an
    * exact top-`candK` cosine pass over the corpus (one scan, bounded
    * heap) plus the candK² pairwise cosines (self-join of the
    * model-sized candidate frame). The greedy loop itself is
    * inherently sequential (each pick depends on all prior picks), so
    * it runs driver-side over ≤ candK·k score evaluations on the
    * collected candidate set — the same bounded-collect contract as
    * the IVF centroid model, NOT a corpus collect.
    *
    * Determinism: every similarity comes from the same graft_dot
    * left-to-right fold the brute-force oracle replays, the λ
    * constants are written as exact literals on both sides (0.7 and
    * 0.3 are distinct doubles — never derive one from the other), and
    * ties break toward the smaller id, so a recursive-CTE oracle
    * replays the whole greedy selection bit-for-bit. */
  def mmrTopK(corpus: DataFrame, queryVec: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, candK: Int,
      lambda: Double, oneMinusLambda: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = bruteForceTopK(corpus, queryVec, idCol, vecCol, dim, candK)
      .select(col("neighbor_id").as("cid"), col("sim").as("rel"))
      .materialize(true)
    val cvecs = corpus
      .join(cands.select(col("cid")), col(idCol) === col("cid"), "left_semi")
    val cv = withNorm(cvecs, "cid", "v", "n", idCol, vecCol)
    val pairSims = cv
      .join(cv.select(col("cid").as("cid2"), col("v").as("v2"),
        col("n").as("n2")), col("cid") < col("cid2"))
      .select(col("cid"), col("cid2"),
        (dot(col("v"), col("v2")) / (col("n") * col("n2"))).as("sim"))
      .collect().flatMap { r =>
        val (a, b, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b) -> s, (b, a) -> s)
      }.toMap
    val rel = cands.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashSet(rel.map(_._1): _*)
    val relMap = rel.toMap
    while (chosen.size < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { c =>
        val redundancy =
          if (chosen.isEmpty) 0.0
          else chosen.iterator.map(s => pairSims((c, s._1))).max
        val score =
          if (chosen.isEmpty) lambda * relMap(c)
          else lambda * relMap(c) - oneMinusLambda * redundancy
        (c, score)
      }.reduceLeft { (x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
      }
      chosen += best
      remaining -= best._1
    }
    chosen.toSeq.zipWithIndex
      .map { case ((id, score), i) =>
        // HALF_UP (away from zero), matching both engines' round()
        (i + 1, id, BigDecimal(score)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toDF("rk", "vec_id", "score")
  }
}
