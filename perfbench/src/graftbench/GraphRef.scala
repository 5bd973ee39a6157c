package graftbench

import scala.collection.mutable

/** In-memory reference implementations of the graph verbs whose
  * answer is exact and cheap to compute from the generator's record
  * of the edges — the expectation the batch checks Spark's output
  * against. Row shapes and column names match graft's outputs, so a
  * reference row hashes like the row Spark returns. */
final class GraphRef(links: Seq[(String, String)]) {
  val adj: Map[String, Array[String]] =
    links.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct.sorted.toArray }
  private val nodes = adj.keys.toSeq.sorted

  /** Algorithms.degrees over the directed edge list. */
  def degrees: Seq[Map[String, Any]] = {
    val out = links.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val in = links.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    (out.keySet ++ in.keySet).toSeq.map(n => Map("node" -> n,
      "out_deg" -> out.getOrElse(n, 0L), "in_deg" -> in.getOrElse(n, 0L)))
  }

  /** Algorithms.pageRank: unnormalized, every node starts at 1.0. */
  def pageRank(iters: Int, d: Double = 0.85): Seq[Map[String, Any]] = {
    var rank = nodes.map(_ -> 1.0).toMap
    (1 to iters).foreach { _ =>
      rank = nodes.map { n =>
        n -> ((1 - d) + d * adj(n).map(m => rank(m) / adj(m).length).sum)
      }.toMap
    }
    nodes.map(n => Map("node" -> n, "rank" -> rank(n)))
  }

  /** Connected components named by their smallest member. */
  def components: Seq[Map[String, Any]] = {
    val comp = mutable.HashMap.empty[String, String]
    nodes.foreach { s =>
      if (!comp.contains(s)) {
        val members = mutable.ArrayBuffer(s)
        val seen = mutable.HashSet(s)
        var i = 0
        while (i < members.size) {
          adj(members(i)).foreach(m => if (seen.add(m)) members += m)
          i += 1
        }
        val name = members.min
        members.foreach(comp(_) = name)
      }
    }
    nodes.map(n => Map("node" -> n, "component" -> comp(n)))
  }

  def triangles: Long = {
    val sets = adj.map { case (k, v) => k -> v.toSet }
    nodes.map { a =>
      val nb = adj(a).filter(_ > a)
      nb.indices.map(i => nb.drop(i + 1).count(c => sets(nb(i)).contains(c)).toLong).sum
    }.sum
  }

  /** Core numbers by bucket peeling. */
  def kCore: Seq[Map[String, Any]] = {
    val deg = mutable.HashMap(nodes.map(n => n -> adj(n).length): _*)
    val core = mutable.HashMap.empty[String, Int]
    val order = mutable.TreeSet.empty[(Int, String)] ++ deg.toSeq.map { case (n, k) => (k, n) }
    while (order.nonEmpty) {
      val (k, n) = order.head
      order -= ((k, n))
      core(n) = k
      adj(n).foreach { m =>
        if (!core.contains(m) && deg(m) > k) {
          order -= ((deg(m), m)); deg(m) -= 1; order += ((deg(m), m))
        }
      }
    }
    nodes.map(n => Map("node" -> n, "core" -> core(n)))
  }

  /** Adamic-Adar: top `perSeed` non-adjacent two-hop candidates per
    * seed by (score rounded to 4 places desc, id asc). */
  def adamicAdar(seeds: Seq[String], perSeed: Int): Seq[Map[String, Any]] = {
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    seeds.filter(adj.contains).distinct.flatMap { a =>
      val direct = adj(a).toSet
      val score = mutable.HashMap.empty[String, Double]
      adj(a).foreach { w =>
        adj(w).foreach { c =>
          if (c != a) score(c) = score.getOrElse(c, 0.0) + 1.0 / math.log(adj(w).length)
        }
      }
      score.toSeq.filterNot(x => direct(x._1))
        .sortBy { case (b, s) => (-r4(s), b) }.take(perSeed)
        .map { case (b, s) => Map("a" -> a, "b" -> b, "aa_score" -> r4(s)) }
    }
  }
}
