package graft.util

/** Tiny synchronized LRU memoization cache with an eviction
  * callback — bounds the library's caches so a long-lived service
  * never pins cached partitions (or their owning SparkSessions)
  * forever.
  *
  * Concurrency contract:
  *  - `build` runs OUTSIDE the lock: a build can be a real Spark job
  *    (scans, counts), and holding the lock across it would stall
  *    unrelated cache hits for its whole duration. Two threads may
  *    race to build the same key; the first insert wins and the
  *    loser's value is handed to `onEvict` (for Spark-side caches
  *    the loser is typically still lazy, so eviction is free).
  *  - a cache hit refreshes recency (true LRU, not FIFO): the
  *    hottest entry is never the one evicted.
  *  - `onEvict` runs outside the lock and is best-effort: it may
  *    talk to a block manager whose session has stopped, and an
  *    eviction failure must never fail the caller's lookup.
  *
  * Besides the entry count, the entries' summed `weight` (a pure,
  * cheap function of the value; 0 by default) is bounded by
  * `maxWeight`: an insert that pushes the sum over it evicts the
  * least recent weighted entries, never the one just inserted.
  */
final class LruCache[K, V](limit: Int, onEvict: V => Unit = (_: V) => (),
    maxWeight: Long = Long.MaxValue, weight: V => Long = (_: V) => 0L) {
  require(limit > 0, s"limit must be positive, got $limit")
  private val m = scala.collection.mutable.LinkedHashMap.empty[K, V]
  private var total = 0L // summed weight of m's values

  def getOrElseUpdate(k: K)(build: => V): V =
    get(k).getOrElse {
      val built = build
      val (winner, evicted) = synchronized {
        m.get(k) match {
          case Some(w) =>
            m.remove(k); m.put(k, w) // lost the race; refresh winner
            (w, List(built))
          case None =>
            (built, insert(k, built))
        }
      }
      evicted.foreach(e => try onEvict(e) catch { case _: Throwable => () })
      winner
    }

  /** Lookup that refreshes recency. */
  def get(k: K): Option[V] = synchronized {
    m.remove(k).map { v => m.put(k, v); v }
  }

  /** Insert-or-replace, refreshing recency — for caches whose value
    * can be UPGRADED in place (e.g. a deeper ball-size frame
    * replacing a shallower one). The displaced value and any
    * overflow evictions go to `onEvict`, outside the lock. */
  def put(k: K, v: V): Unit = {
    val evicted = synchronized {
      val old = m.remove(k).toList
      old.foreach(o => total -= weight(o))
      insert(k, v) ++ old
    }
    evicted.foreach(e => try onEvict(e) catch { case _: Throwable => () })
  }

  /** Under the lock: adds `k` as the most recent entry, then evicts
    * the oldest entries past `limit` and the oldest weighted ones
    * (other than `k`) while the summed weight exceeds `maxWeight`. */
  private def insert(k: K, v: V): List[V] = {
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
    ev
  }

  def size: Int = synchronized(m.size)

  /** Evict everything, routing each value through `onEvict` (outside
    * the lock). For the benchmark's reset-between-passes protocol and
    * tests — drop-only caches just release their references (the
    * ContextCleaner reclaims unpinned checkpoint blocks), unpersisting
    * caches free their blocks eagerly. */
  def clear(): Unit = {
    val evicted = synchronized { val vs = m.values.toList; m.clear(); total = 0L; vs }
    evicted.foreach(e => try onEvict(e) catch { case _: Throwable => () })
  }
}
