package graftbench

import scala.collection.mutable

/** Seeded input generators. Every input of every workload is a pure
  * function of (seed, sizes): the program under test only ever sees
  * these generated tables, corpora and vectors. Sizes are fixed per
  * workload (see WORKLOADS.md), so seeds change content, never scale. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian before JDK 17's
    // RandomGenerator default, so keep it explicit and reproducible
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  def chance(p: Double): Boolean = r.nextDouble() < p
  def fork(salt: Long): Rng = new Rng(r.nextLong() ^ salt)
}

/** Zipf(s) over ranks 0..n-1 (rank 0 hottest), by inverse CDF. */
final class Zipf(n: Int, s: Double, rng: Rng) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.double())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

final case class Cust(custkey: Long, name: String, nation: Int, cents: Long,
    seg: String) {
  def key: String = s"c:$custkey"
  def acctbal: Double = cents / 100.0
  def acctStr: String = java.math.BigDecimal.valueOf(cents, 2).toPlainString
  /** The exact details JSON GraphBuilder renders for a customer node. */
  def details: String =
    s"""{"name":"$name","nationkey":$nation,"acctbal":"$acctStr","mktsegment":"$seg"}"""
}

final case class Supp(suppkey: Long, name: String, nation: Int, cents: Long) {
  def key: String = s"s:$suppkey"
  def details: String = {
    val a = java.math.BigDecimal.valueOf(cents, 2).toPlainString
    s"""{"name":"$name","nationkey":$nation,"acctbal":"$a"}"""
  }
}

/** The customer⋈supplier demo graph: base tables plus the link
  * aggregates GraphBuilder.edges derives from orders ⋈ lineitem. */
final case class GraphData(custs: Vector[Cust], supps: Vector[Supp],
    orders: Vector[(Long, Long)], lineitems: Vector[(Long, Long, Double)]) {
  /** (src_key, dst_key) -> (n_items, sum_qty) */
  lazy val links: Map[(String, String), (Long, Double)] = {
    val custOf = orders.toMap
    val m = mutable.HashMap.empty[(String, String), (Long, Double)]
    lineitems.foreach { case (ok, sk, q) =>
      val k = (s"c:${custOf(ok)}", s"s:$sk")
      val (n, s) = m.getOrElse(k, (0L, 0.0))
      m(k) = (n + 1, s + q)
    }
    m.toMap
  }
  /** Undirected adjacency, both directions. */
  lazy val adj: Map[String, Vector[String]] =
    links.keys.toVector.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
}

object Gen {
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def cust(k: Long, rng: Rng): Cust =
    Cust(k, f"Customer#$k%09d", rng.int(25), rng.between(-99999, 999999).toLong,
      Segments(rng.int(Segments.size)))

  /** TPC-H-shaped graph tables: uniform customers per order, 1-7
    * lineitems per order, suppliers drawn Zipf(0.6) so a few suppliers
    * are hubs. */
  def graph(seed: Long, nCust: Int, nSupp: Int, nOrders: Int): GraphData = {
    val rng = new Rng(seed)
    val custs = (1 to nCust).map(k => cust(k.toLong, rng)).toVector
    val supps = (1 to nSupp).map { k =>
      Supp(k.toLong, f"Supplier#$k%09d", rng.int(25), rng.between(-99999, 999999).toLong)
    }.toVector
    val suppZ = new Zipf(nSupp, 0.6, rng)
    val orders = (1 to nOrders).map(o => (o.toLong, (1 + rng.int(nCust)).toLong)).toVector
    val lines = orders.flatMap { case (ok, _) =>
      (1 to rng.between(1, 7)).map(_ => (ok, (1 + suppZ.next()).toLong,
        rng.between(1, 50).toDouble))
    }
    GraphData(custs, supps, orders, lines)
  }

  // ---- corpus -----------------------------------------------------
  val StopWords = Vector("the", "and", "of", "to", "in", "that", "is", "with",
    "for", "it", "as", "was", "on", "be", "by", "this")

  final class Vocab(rng: Rng, n: Int) {
    val words: Vector[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < n) {
        val len = rng.between(3, 9)
        seen += (0 until len).map(_ => ('a' + rng.int(26)).toChar).mkString
      }
      seen.toVector
    }
    private val z = new Zipf(n, 0.9, rng)
    def word(r: Rng): String =
      if (r.chance(0.18)) StopWords(r.int(StopWords.size)) else words(z.next())
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val Langs = Vector("en", "de", "es", "fr", "zh")

  def freshText(v: Vocab, rng: Rng): String =
    (0 until rng.between(50, 140)).map(_ => v.word(rng)).mkString(" ")

  /** A near-duplicate: replace about `frac` of the tokens. */
  def perturb(text: String, v: Vocab, rng: Rng, frac: Double): String =
    text.split(' ').map(t => if (rng.chance(frac)) v.word(rng) else t).mkString(" ")

  /** Documents with planted structure: ~4% exact copies, ~12% near
    * duplicates (3-6% tokens replaced) of earlier documents. */
  def docs(rng: Rng, v: Vocab, n: Int, firstId: Long): Vector[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val id = firstId + i
      val text =
        if (out.nonEmpty && rng.chance(0.04)) out(rng.int(out.size)).text
        else if (out.nonEmpty && rng.chance(0.125))
          perturb(out(rng.int(out.size)).text, v, rng, 0.03 + 0.03 * rng.double())
        else freshText(v, rng)
      out += Doc(id, text, Langs(rng.int(Langs.size)), s"src${i % 20}")
    }
    out.toVector
  }

  /** The make8x replica transform: ids offset, every token prefixed
    * `r<k>` so replica token spaces are disjoint. */
  def replicaDoc(d: Doc, k: Int, off: Long): Doc =
    if (k == 0) d
    else d.copy(id = d.id + k * off,
      text = d.text.split(' ').map(t => s"r$k$t").mkString(" "))

  // ---- embeddings -------------------------------------------------
  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** Unit-ish vectors around `labels` random centroids, with ~5% near
    * copies of earlier vectors (the semantic duplicates). */
  def vectors(rng: Rng, n: Int, dim: Int, labels: Int): Vector[Vec] = {
    val cents = Vector.fill(labels)(Array.fill(dim)(rng.gaussian()))
    val out = mutable.ArrayBuffer.empty[Vec]
    (0 until n).foreach { i =>
      val lab = rng.int(labels)
      val v =
        if (out.nonEmpty && rng.chance(0.05)) {
          val src = out(rng.int(out.size))
          src.v.map(x => (x + 0.002 * rng.gaussian()).toFloat)
        } else cents(lab).map(c => (c + 0.9 * rng.gaussian()).toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      out += Vec(i.toLong, v.map(x => (x / nrm).toFloat), lab)
    }
    out.toVector
  }

  def replicaVec(x: Vec, k: Int, off: Long): Vec =
    if (k == 0) x
    else x.copy(id = x.id + k * off, v = x.v.map(c => (c + k * 0.001f)))
}
