package graft.util

/** Registry of the engine's DERIVED-artifact memo caches (a-keyed
  * adjacency copies, broadcast adjacency maps, triangle/ball/LPA/walk
  * artifacts, the minhash pair build…).
  *
  * Exists for the benchmark's best-of-2 protocol: a second timed pass
  * over the query map must re-measure the OPERATORS, not hit their
  * memoized artifacts — otherwise every producer key's second run is
  * a cache lookup and the shared build cost vanishes from the
  * artifact. Bench calls [[resetDerived]] between passes so both
  * passes start from the identical warm-inputs/cold-derived state and
  * per-key times stay attribution-comparable.
  *
  * INPUT-layer caches (the edge frames and their undirected
  * adjacency that the untimed warmup builds, GraphStore's relations)
  * deliberately do NOT register — warm in both passes by protocol.
  */
object Memos {
  private val resets = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Called once per cache at module init. */
  def registerDerived(reset: () => Unit): Unit =
    synchronized { resets += reset }

  /** Clear every registered derived cache (best-effort per cache). */
  def resetDerived(): Unit =
    synchronized(resets.toList).foreach { r =>
      try r() catch { case _: Throwable => () }
    }
}
