package graftbench

/** Checks the benchmark itself (`run.py --selftest`):
  *  1. self time is computed correctly on a synthetic span tree;
  *  2. a tiny run of every workload, untraced and traced, prints
  *     every metric declared in BENCHMARK.json, with its unit, and no
  *     other;
  *  3. a planted wrong expectation drives the share of failed ops
  *     (`failed / attempted`) above 0.
  * Returns the exit code: 0 when every check holds. */
object SelfTest {
  private var bad = 0

  private def expect(ok: Boolean, what: String): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) bad += 1
  }

  def spanTree(): Unit = {
    // root 0..100 with children 10..30, 20..50 (overlapping) and
    // 90..120 (runs past the root); grandchild 25..28 under 10..30
    val spans = Seq(
      Span(1, 0, 1, "root", 0, 100),
      Span(2, 1, 1, "a", 10, 30),
      Span(3, 1, 1, "b", 20, 50),
      Span(4, 1, 1, "c", 90, 120),
      Span(5, 2, 1, "a.x", 25, 28))
    val self = Tracer.selfTimes(spans)
    expect(self(1) == 100 - 40 - 10, s"root self time 50, got ${self(1)}")
    expect(self(2) == 20 - 3, s"child self time 17, got ${self(2)}")
    expect(self(3) == 30 && self(4) == 30 && self(5) == 3,
      s"leaf self times 30/30/3, got ${self(3)}/${self(4)}/${self(5)}")
    expect(Tracer.medianSelfMs(spans)("root") == 50 / 1e6, "median self ms")
  }

  /** Declared (name -> unit) of a metric list in BENCHMARK.json. */
  private def declared(bench: String, key: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    (JsonMethods.parse(bench) \ key) match {
      case JArray(xs) => xs.map { m =>
        ((m \ "name").values.toString, (m \ "unit").values.toString)
      }.toMap
      case _ => Map.empty
    }
  }

  def run(work: String): Int = {
    spanTree()
    val benchFile = new java.io.File(new java.io.File(work).getParentFile.getParentFile,
      "BENCHMARK.json")
    val bench = new String(java.nio.file.Files.readAllBytes(benchFile.toPath), "UTF-8")
    val spark = Main.session()
    for (trace <- Seq(false, true)) {
      val decl = declared(bench, if (trace) "per_layer" else "end_to_end")
      for (w <- Seq("egraph_serve", "analytics_batch", "corpus_ingest")) {
        val m = Main.measure(spark, w, 7L, 4.0, trace, s"$work/$w-$trace", None,
          tiny = true)
        expect(m.failed == 0 && m.attempted > 0,
          s"$w trace=$trace: ${m.attempted} checked ops, ${m.failed} wrong")
        val wrong = m.metrics.filterNot(x => decl.get(x.name).contains(x.unit))
        expect(wrong.isEmpty, s"$w trace=$trace: every metric declared with its unit" +
          (if (wrong.isEmpty) "" else s" (undeclared: ${wrong.map(_.name).mkString(", ")})"))
        val empty = m.metrics.filter(_.value.isNaN).map(_.name)
        expect(empty.isEmpty, s"$w trace=$trace: every metric has a value" +
          (if (empty.isEmpty) "" else s" (none for: ${empty.mkString(", ")})"))
        val missing = decl.keySet -- m.metrics.map(_.name)
        expect(missing.isEmpty, s"$w trace=$trace: every declared metric printed" +
          (if (missing.isEmpty) "" else s" (missing: ${missing.toSeq.sorted.mkString(", ")})"))
      }
    }
    val planted = Main.measure(spark, "egraph_serve", 7L, 4.0, true, s"$work/planted", None,
      tiny = true, plant = true)
    val ff = planted.failed.toDouble / math.max(1L, planted.attempted)
    expect(ff > 0, s"planted wrong expectation: failed share $ff > 0")
    println("@@RESULT " + Json.render(Json.obj("selftest_failures" -> bad)))
    if (bad == 0) 0 else 1
  }
}
