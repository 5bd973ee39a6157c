package graft.util

/** Striped build latches for the eager memoized artifacts
  * (GraphBuilder.aKeyed, Algorithms.broadcastAdjacency, GraphStore's
  * resident versions).
  *
  * Why not one monitor per cache: those builds are real Spark jobs
  * (a 2|E| shuffle+checkpoint, a ~100 MB collect+broadcast), and a
  * single lock serializes concurrent queries over DIFFERENT graphs
  * on first build. Why not LruCache's lock-free race: the builds are
  * EAGER — two racing first calls would each pay the full job and
  * orphan the loser's blocks/broadcast until a driver GC.
  *
  * Striping by the key's hash — the one its LruCache keys on, so
  * identity for frame keys, by value for tuple keys — gives per-key
  * serialization with a fixed footprint: equal keys → same monitor
  * (never two builds of one artifact); different keys collide on a
  * stripe with probability 1/64 (a brief serialization, never a
  * correctness issue). No per-key map to grow or weakly reference.
  */
object Latches {
  private val stripes = Array.fill(64)(new Object)

  /** The monitor for `key` — synchronize the cache lookup AND the
    * eager build under it. */
  def forKey(key: AnyRef): Object =
    stripes(Math.floorMod(key.##, stripes.length))
}
