package graft.util

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** The engine's one cache contract. Every memo in the library (the
  * demo graph's edges and adjacency, a-keyed copies, the graph
  * kernels' CSR adjacency, triangle/ball/LPA/walk artifacts, the minhash pair
  * build, IVF/PQ models, GraphStore's resolved versions…) is a
  * [[Memos.Memo]]:
  *
  *  - Hit: a lookup under the memo's map monitor, held only for the
  *    lookup; a hit refreshes recency (true LRU) and takes no build
  *    lock, so a hot entry is never stalled behind another key's
  *    build.
  *  - Build: a miss builds under a lock of ITS OWN KEY, held across
  *    the build. Builds are often eager Spark jobs (a 2|E|
  *    shuffle+checkpoint, a collect+broadcast, a model's training), so
  *    racing first calls for one key run the build once and all get
  *    the winner; different keys build in parallel. Locks are per key,
  *    not striped, so builds may nest across memos (an overlay over
  *    the undirected adjacency over the edges) without a hash
  *    collision ever ordering two unrelated locks into a deadlock.
  *  - Rebuild: a lookup may pass a validity predicate; a held entry
  *    that fails it is rebuilt under the key's lock, and the build
  *    sees it (a deeper ball-size request, a version whose resident
  *    gate moved).
  *  - Bounds: an entry count, and optionally a summed `weight` of the
  *    values under `maxWeight`: past it the least recent weighted
  *    entries go, never the one just inserted. `onEvict` runs outside
  *    the map monitor and is best-effort (it may reach a block manager
  *    whose session has stopped; a failure never fails a lookup).
  *  - Derived vs input: a memo built with `derived = true` holds a
  *    DERIVED artifact and is cleared by [[resetDerived]]. The
  *    benchmark's best-of-2 protocol calls it between passes, so a
  *    second timed pass re-measures the operators instead of hitting
  *    their artifacts. INPUT-layer memos (the edge frames and their
  *    undirected adjacency the untimed warmup builds, GraphStore's
  *    versions) stay warm in both passes.
  *  - Admission is the call site's decision: a site that must not
  *    memoize a one-shot input (`GraphBuilder.withAKeyed`,
  *    `undirectedOf`) checks [[isStable]] and routes around the memo.
  *  - Counters: each memo counts hits, misses and bound evictions;
  *    [[hits]] and [[misses]] sum them over every memo.
  *
  * Memos are module-level values: each registers itself for the
  * JVM's lifetime.
  */
object Memos {
  private val all = mutable.ArrayBuffer.empty[Memo[_, _]]

  final class Memo[K, V](limit: Int, val derived: Boolean,
      onEvict: V => Unit = (_: V) => (),
      maxWeight: Long = Long.MaxValue, weight: V => Long = (_: V) => 0L) {
    require(limit > 0, s"limit must be positive, got $limit")
    // both guarded by this memo's monitor, never held across a build
    private val m = mutable.LinkedHashMap.empty[K, V]
    private val latches = mutable.HashMap.empty[K, Latch]
    private var total = 0L // summed weight of m's values
    private val hitN, missN, evictN = new AtomicLong
    Memos.synchronized { all += this }

    /** The entry for `k`, built by `build` on a miss. */
    def apply(k: K)(build: => V): V = apply(k, (_: V) => true)(_ => build)

    /** The entry for `k` if `valid`, else rebuilt: `build` gets the
      * held entry that failed `valid`, if any, and its result replaces
      * it. */
    def apply(k: K, valid: V => Boolean)(build: Option[V] => V): V =
      get(k).filter(valid) match {
        case Some(v) => hitN.incrementAndGet(); v
        case None =>
          val latch = synchronized {
            val l = latches.getOrElseUpdate(k, new Latch); l.users += 1; l
          }
          try latch.synchronized {
            get(k) match {
              case Some(v) if valid(v) => hitN.incrementAndGet(); v
              case held =>
                missN.incrementAndGet()
                val v = build(held)
                put(k, v)
                v
            }
          } finally synchronized {
            latch.users -= 1
            if (latch.users == 0) latches.remove(k)
          }
      }

    /** Lookup that refreshes recency; counts neither a hit nor a miss. */
    def get(k: K): Option[V] = synchronized {
      m.remove(k).map { v => m.put(k, v); v }
    }

    /** A held entry satisfying `p`; refreshes nothing and counts
      * neither a hit nor a miss. */
    def find(p: V => Boolean): Option[V] = synchronized(m.valuesIterator.find(p))

    def size: Int = synchronized(m.size)
    def hits: Long = hitN.get
    def misses: Long = missN.get
    def evictions: Long = evictN.get

    /** Evicts everything, routing each value through `onEvict`. */
    def clear(): Unit =
      release(synchronized { val vs = m.values.toList; m.clear(); total = 0L; vs })

    private def put(k: K, v: V): Unit = release(synchronized {
      val old = m.remove(k).toList
      old.foreach(o => total -= weight(o))
      m.put(k, v)
      total += weight(v)
      var ev = List.empty[V]
      def drop(ek: K): Unit = m.remove(ek).foreach { ew => total -= weight(ew); ev ::= ew }
      while (m.size > limit) drop(m.head._1)
      var heavy = total > maxWeight
      while (heavy) m.find { case (ek, ew) => ek != k && weight(ew) > 0 } match {
        case Some((ek, _)) => drop(ek); heavy = total > maxWeight
        case None => heavy = false
      }
      evictN.addAndGet(ev.size)
      ev ++ old
    })

    private def release(vs: List[V]): Unit =
      vs.foreach(v => try onEvict(v) catch { case _: Throwable => () })
  }

  /** One key's build lock, and the lookups waiting on it. */
  private final class Latch { var users = 0 }

  /** Clears every derived memo (best-effort per memo). */
  def resetDerived(): Unit =
    synchronized(all.filter(_.derived).toList).foreach { m =>
      try m.clear() catch { case _: Throwable => () }
    }

  /** Hits and misses summed over every memo since JVM start. */
  def hits(): Long = synchronized(all.toList).map(_.hits).sum
  def misses(): Long = synchronized(all.toList).map(_.misses).sum

  // ---- stable-instance registry --------------------------------
  // Frames handed out by the memos (and GraphStore's versions) are
  // LONG-LIVED: the memo returns the same instance to every query, so
  // artifacts keyed on them (aKeyed, undirectedOf) actually hit. A
  // frame built fresh per call (e.g. the dedup keeper-resolution
  // adjacency, a new unionByName().distinct() per call) never hits an
  // instance-keyed memo, and caching its derived checkpoint only pins
  // dead 2|E| copies until churn evicts them (r10 ADVICE). Weak
  // identity set: a registered instance falls out on its own once its
  // memo evicts it and no consumer holds it.
  private val stable = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[AnyRef, java.lang.Boolean]))

  /** Registers `x` as a long-lived, memo-eligible instance. The memos
    * over frames do it for what they hand out; a service holding its
    * own adjacency for many queries can opt in. */
  def markStable[T <: AnyRef](x: T): T = { stable.add(x); x }

  def isStable(x: AnyRef): Boolean = stable.contains(x)
}
