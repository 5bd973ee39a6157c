package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Algorithms, GraphBuilder}
import graft.util.Memos

/** Pins the one cache contract of `Memos.Memo`: one build per key
  * under racing first calls, nested builds across memos that cannot
  * deadlock, LRU bounds, the derived/input reset split, validity
  * rebuilds, and the per-memo counters. */
class MemoSpec extends AnyFunSuite with SparkFixture {

  /** Runs each body on its own thread, all released together, and
    * returns the threads that are still running after `timeoutS`. */
  private def race(timeoutS: Int)(bodies: (() => Unit)*): Seq[Thread] = {
    val start = new CyclicBarrier(bodies.size)
    val ts = bodies.map { b =>
      val t = new Thread(() => { start.await(); b() })
      t.setDaemon(true) // a deadlocked pair must not hold the JVM
      t
    }
    ts.foreach(_.start())
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(timeoutS)
    ts.foreach(t => t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000)))
    ts.filter(_.isAlive)
  }

  test("racing first calls run one eager build and all get the winner") {
    val memo = new Memos.Memo[String, Object](4, derived = false)
    val builds = new AtomicInteger
    val got = new ConcurrentLinkedQueue[Object]
    val n = 8
    val stuck = race(30)(Seq.fill(n)(() => {
      got.add(memo("k") { builds.incrementAndGet(); Thread.sleep(200); new Object })
      ()
    }): _*)
    assert(stuck.isEmpty)
    assert(builds.get == 1)
    val all = got.asScala.toSeq
    assert(all.size == n && all.forall(_ eq all.head))
    assert(memo.misses == 1 && memo.hits == n - 1)
  }

  test("nested builds across two memos in opposite key orders both finish") {
    // equal hashes, unequal keys: any lock striped by hash puts both
    // keys of a memo on one lock, and the two threads below would each
    // hold one memo's lock while waiting on the other's
    final case class K(id: Int) { override def hashCode: Int = 0 }
    val a = new Memos.Memo[K, Int](4, derived = false)
    val b = new Memos.Memo[K, Int](4, derived = false)
    val outer = new CountDownLatch(2)
    def enter(): Unit = { outer.countDown(); outer.await(2, TimeUnit.SECONDS) }
    val stuck = race(20)(
      () => { a(K(1)) { enter(); b(K(2))(2) + 1 }; () },
      () => { b(K(1)) { enter(); a(K(2))(20) + 10 }; () })
    assert(stuck.isEmpty, "nested builds deadlocked")
    assert(a.get(K(1)).contains(3) && b.get(K(2)).contains(2))
    assert(b.get(K(1)).contains(30) && a.get(K(2)).contains(20))
  }

  test("the count bound evicts the least recent entry; a hit refreshes it") {
    val evicted = scala.collection.mutable.Buffer.empty[String]
    val memo = new Memos.Memo[String, String](2, derived = false,
      onEvict = (v: String) => evicted += v)
    memo("a")("A"); memo("b")("B")
    assert(memo("a")(fail("a is held")) == "A") // a is now the most recent
    memo("c")("C")
    assert(evicted == Seq("B") && memo.get("b").isEmpty && memo.size == 2)
    assert(memo.get("a").contains("A") && memo.get("c").contains("C"))
    assert(memo.hits == 1 && memo.misses == 3 && memo.evictions == 1)
  }

  test("resetDerived clears derived memos and leaves input memos alone") {
    val derived = new Memos.Memo[Int, Int](4, derived = true)
    val input = new Memos.Memo[Int, Int](4, derived = false)
    derived(1)(1); input(1)(1)
    Memos.resetDerived()
    assert(derived.size == 0 && input.get(1).contains(1))
  }

  test("a validity predicate rebuilds a deeper ballSizes request and hits " +
      "a shallower one") {
    val held = new Memos.Memo[String, Int](4, derived = false)
    assert(held("k", _ >= 2)(_ => 2) == 2)
    assert(held("k", _ >= 1)(_ => fail("depth 2 covers 1")) == 2)
    var seen = Option.empty[Int]
    assert(held("k", _ >= 3) { h => seen = h; 3 } == 3)
    assert(seen.contains(2) && held.size == 1)

    import spark.implicits._
    val und = GraphBuilder.undirected(
      Seq("a" -> "b", "b" -> "c", "c" -> "d").toDF("src_key", "dst_key"))
    Memos.resetDerived()
    val d2 = Algorithms.ballSizes(und, 2)
    assert(Algorithms.ballSizes(und, 1) eq d2, "a shallower request is a hit")
    val d3 = Algorithms.ballSizes(und, 3)
    assert(!(d3 eq d2), "a deeper request rebuilds")
    assert(Algorithms.ballSizes(und, 2) eq d3)
  }

  test("two concurrent first Ivf.trainCached calls train once") {
    Memos.resetDerived()
    val got = new ConcurrentLinkedQueue[ann.Ivf.Model]
    val call = () => {
      got.add(ann.Ivf.trainCached(Tables.embeddings(spark, sfDir),
        "vec_id", "embedding", 64, k = 8))
      ()
    }
    assert(race(120)(call, call).isEmpty)
    val Seq(a, b) = got.asScala.toSeq
    assert(a eq b, "both callers must get the one trained model")
  }
}
