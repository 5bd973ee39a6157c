package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins graft.Probe's harness contract in-process on the test corpus:
  * ABBA leg order, equal rows across legs, listener counters that see
  * the legs' different job counts, conf restore, and executed-plan
  * capture. */
class ProbeSpec extends AnyFunSuite with SparkFixture {

  test("timed legs run in ABBA order") {
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => Probe.leg(s"$n:"))
    assert(Probe.order(Seq(a, b), 4).map(_._2.name).mkString == "abbaabba")
    assert(Probe.order(Seq(a, b, c), 2) ==
      Seq(1 -> a, 1 -> b, 1 -> c, 2 -> c, 2 -> b, 2 -> a))
  }

  test("leg specs parse, and a malformed one fails loudly") {
    assert(Probe.leg("rounds:graft.graph.broadcastEdges=0; k = v=w") ==
      Probe.Leg("rounds", Seq("graft.graph.broadcastEdges" -> "0", "k" -> "v=w")))
    assert(Probe.leg("kernel:") == Probe.Leg("kernel", Nil))
    Seq("kernel", ":k=v", "x:novalue").foreach { bad =>
      intercept[IllegalArgumentException](Probe.leg(bad))
    }
    intercept[IllegalArgumentException](Probe.run(spark, sfDir,
      Seq("g_pagerank"), Seq(Probe.leg("a:"), Probe.leg("a:k=v")), 1, false))
  }

  test("pagerank legs: same rows, metered counters, rounds run more jobs, " +
      "no conf leaks, executed plans captured") {
    val kept = "graft.walks.broadcastChoices" // set before, unread by g_pagerank
    val unset = "graft.graph.broadcastEdges"
    val legs = Seq(Probe.leg(s"rounds:$unset=0;$kept=7"), Probe.leg("kernel:"))
    spark.conf.set(kept, "123")
    spark.conf.unset(unset)
    try {
      val (recs, plans) = Probe.run(spark, sfDir, Seq("g_pagerank"), legs,
        reps = 2, capturePlans = true)
      assert(recs.map(r => r.rep -> r.leg) ==
        Seq(1 -> "rounds", 1 -> "kernel", 2 -> "kernel", 2 -> "rounds"))
      assert(recs.map(_.rows).distinct.size == 1 && recs.head.rows > 0)
      recs.foreach(r =>
        assert(r.jobs > 0 && r.stages > 0 && r.tasks > 0 && r.taskCpuS > 0,
          r.json))
      // each call reads the warm input adjacency and rebuilds a
      // derived artifact the reset before it cleared
      recs.foreach(r => assert(r.memoHits > 0 && r.memoMisses > 0, r.json))
      val jobs = recs.groupBy(_.leg).transform((_, rs) => rs.map(_.jobs))
      assert(jobs("rounds").min > jobs("kernel").max, jobs)
      assert(spark.conf.get(kept) == "123")
      assert(spark.conf.getOption(unset).isEmpty)
      assert(plans.map(p => p.leg -> p.rep) == Seq("rounds" -> 2, "kernel" -> 2))
      assert(plans.flatMap(_.plans).exists(p =>
        p.contains("AdaptiveSparkPlan") || p.contains("Exchange")))
    } finally spark.conf.unset(kept)
  }
}
