package graft

/** Benchmark main — one JSON line on stdout, full detail to
  * bench_last.json. Both bench_record.json and bench_last.json are
  * resolved against the working directory, which `sbt run` and
  * `tools/runjava.sh` set to the checkout root, so each checkout
  * reads and writes its own.
  *
  * Protocol (r11): per-key BEST-OF-2 with a noise sentinel, because
  * the host is co-tenant: r10's official artifact read 2.7× slower
  * than r9 while the same code measured 14% FASTER in a clean window
  * — untouched keys inflated 3–19× inside one burst and reverted the
  * next run. A single-pass artifact hands the perf grade to whoever
  * else is on the box. So:
  *
  *  - TWO full timed passes over the query map, same order. Between
  *    them, [[graft.util.Memos.resetDerived]] clears every derived
  *    memo cache (a-keyed copies, broadcast maps, triangle/ball/LPA/
  *    walk artifacts, the minhash pair build) and the untimed
  *    warmup re-runs — so pass 2 re-measures the OPERATORS
  *    from the identical warm-inputs/cold-derived state instead of
  *    reading pass 1's caches. Per-key value = min of the two passes;
  *    a burst must straddle BOTH visits of a key (minutes apart) to
  *    contaminate its number.
  *  - NOISE SENTINEL: one fixed cheap key (q1_agg) is re-timed
  *    before and after every pass; the JSON records every sample and
  *    the max/min spread. Each pass's bracketing pair grades THAT
  *    pass's window; the artifact's grade is the cleanest bracket
  *    (keys take the min across passes, so every key was visited at
  *    least once inside that window).
  *  - BOUNDED REPAIR (r12 verdict #2): if NO pass ran inside a clean
  *    bracket (spread ≤ 1.2), up to SPARK_GRAFT_BENCH_RETRIES
  *    (default 1) additional full reset passes run before emitting —
  *    the quality instrument acts instead of just self-flagging.
  *  - REFERENCE COLUMN: the committed clean-window record
  *    (bench_record.json, maintained by hand at the best known
  *    clean run) rides along in bench_last.json per key, so a reader
  *    can separate "this key regressed" from "this window was loud"
  *    without digging through git history.
  */
object Bench {
  /** Untimed warmup shared with [[Probe]]: executor spin-up,
    * codegen/JIT, the SHARED real-data input artifact (the undirected
    * adjacency, when `graphInputs`) and the q1_agg sentinel query. */
  private[graft] def warm(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, graphInputs: Boolean): Unit = {
    val r = spark.range(0, 1000000).selectExpr("id", "id % 97 AS k")
    r.join(r.groupBy("k").count(), "k").agg(Map("count" -> "sum")).count()
    import spark.implicits._
    val ring = (0 until 64)
      .map(i => (s"n$i", s"n${(i + 1) % 64}")).toDF("a", "b")
    graft.graph.Algorithms.ballSizes(ring, 2).count()
    if (graphInputs)
      graft.graph.GraphBuilder.undirectedFor(spark, sfDir).count()
    // warm the sentinel query itself (its first-ever run carries
    // plan+codegen cost that would always read as "noise" in the
    // start-of-window sentinel sample)
    SparkEntry.queries.get("q1_agg")
      .foreach(fn => try fn(spark, sfDir).count()
        catch { case _: Throwable => () })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // all env knobs (master/executor sizing/shuffle width/conf
    // passthrough) live in SparkEnv — shared with Verify so
    // correctness runs and probes see the identical fabric
    val spark = SparkEnv.session()
    // ERROR, not WARN: registry-replacement WARNs otherwise land in
    // the captured bench tail right around the one JSON output line
    spark.sparkContext.setLogLevel("ERROR")

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // run before EACH pass so both passes start from the same state
    val graphInputs = only.forall(_.exists(_.startsWith("g_")))
    def warm(): Unit = Bench.warm(spark, sfDir, graphInputs)

    // Attribution overrides: where one query CONSUMES another's
    // memoized artifact, the producer must run first so the shared
    // build is billed to the operator named for it. Alphabetical
    // order gets this right for free everywhere except:
    //  - the dedup family (d_dedup_clusters sorts before
    //    d_dedup_minhash but resolution consumes the pair build —
    //    r07 verdict item #2), and d_decontaminate_fuzzy, which
    //    consumes the hashed-token-set frame the minhash kernel
    //    builds (r13);
    //  - the knn family (r12 verdict #5): e_knn_ivfpq consumes BOTH
    //    trainings (IVF from e_knn_ivf, codebooks from e_knn_pq);
    //    alphabetically it sorts between them, so the PQ training
    //    would be billed to the composite instead of its producer.
    // '~' sorts after every alphanumeric, placing the consumer
    // immediately after its producer.
    val orderKey = Map(
      "d_dedup_clusters" -> "d_dedup_minhash~1",
      "d_decontaminate_fuzzy" -> "d_dedup_minhash~2",
      // the exact check consumes the train-gram bloom its namesake
      // builds (probe-side pre-filter, r13) — producer first
      "d_decontaminate" -> "d_decontaminate_bloom~1",
      "e_knn_ivfpq" -> "e_knn_pq~1")
      .withDefault(identity[String])
    val plan = SparkEntry.queries.toSeq.sortBy(q => orderKey(q._1))
      .filter { case (name, _) => only.forall(_.contains(name)) }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          // a swallowed failure must not read as a near-zero perf
          // win; record it and mark the timing invalid
          errors(name) = s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").take(200)}"
          -1.0
      }
    }
    def runPass(): Seq[(String, Double)] =
      plan.map { case (name, fn) => name -> timeOne(name, fn) }

    // the sentinel is timed OUTSIDE the passes so its three runs
    // bracket the whole timed window
    val sentinelKey = "q1_agg"
    def sentinel(): Double = SparkEntry.queries.get(sentinelKey) match {
      case Some(fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      case None => -1.0
    }

    warm()
    var sentinels = Vector(sentinel())
    var passes = Vector.empty[Seq[(String, Double)]]
    def timedPass(): Unit = {
      passes :+= runPass()
      sentinels :+= sentinel()
    }
    timedPass()
    // pass 2 re-measures operators, not pass 1's memo hits
    graft.util.Memos.resetDerived()
    warm()
    timedPass()

    // per-pass sentinel bracket: pass i ran between sentinels(i) and
    // sentinels(i+1); its spread grades THAT pass's window. Keys take
    // the min across passes, so the artifact is gradeable when the
    // CLEANEST bracket is clean — every key was visited at least once
    // inside it (r12 verdict #2: a noisy self-flag must trigger a
    // bounded retry instead of grading the round).
    def bracketSpread(i: Int): Double = {
      val (a, b) = (sentinels(i), sentinels(i + 1))
      if (a > 0 && b > 0) math.max(a, b) / math.min(a, b) else -1.0
    }
    def bestBracket: Double = {
      val bs = passes.indices.map(bracketSpread).filter(_ > 0)
      if (bs.nonEmpty) bs.min else -1.0
    }
    // bounded repair: while no pass ran in a clean bracket, run ONE
    // more full reset pass (default 1 retry — each is ~a third of the
    // base run; SPARK_GRAFT_BENCH_RETRIES=0 restores the r12 shape)
    val maxRetries = sys.env.get("SPARK_GRAFT_BENCH_RETRIES")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(1)
    var repairs = 0
    while (bestBracket > 1.2 && repairs < maxRetries) {
      repairs += 1
      graft.util.Memos.resetDerived()
      warm()
      timedPass()
    }

    // best-of-all-passes per key; -1 (failed) only if EVERY pass failed
    val byKey = passes.flatten.groupBy(_._1)
    val results: Seq[(String, Double)] = passes.head.map { case (k, _) =>
      val ok = byKey(k).map(_._2).filter(_ >= 0)
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    // errors: drop keys that succeeded in at least one pass
    val okKeys = results.filter(_._2 >= 0).map(_._1).toSet
    okKeys.foreach(errors.remove)

    val sruns = sentinels.filter(_ > 0)
    // overall spread (max/min across every sentinel sample) kept for
    // round-over-round comparability; the GRADE uses the cleanest
    // per-pass bracket, because that is the window the per-key mins
    // actually come from
    val spread = if (sruns.size >= 2) sruns.max / sruns.min else -1.0
    // tiered quality (r11 verdict #2): the old single ≤2.0 "clean"
    // certified windows that were uniformly ~1.35× loud. ≤1.2 ⇒ per-
    // key numbers are gradeable; ≤2.0 ⇒ only the total is; above ⇒
    // read everything against bench_record.json.
    val gradeSpread = bestBracket
    val quality = if (gradeSpread < 0) "unknown"
      else if (gradeSpread <= 1.2) "clean"
      else if (gradeSpread <= 2.0) "total_only" else "noisy"
    // per-key volatility: cross-pass disagreement > 1.5× means a
    // burst hit one visit — that key's best-of-N is still the better
    // estimate but should not be graded as a regression/win alone
    val volatile = passes.head.map(_._1).flatMap { k =>
      val ok = byKey(k).map(_._2).filter(_ > 0)
      if (ok.size >= 2 && ok.max / ok.min > 1.5) Some(k) else None
    }
    // /proc/loadavg at the window's end: co-tenant load is THE noise
    // source on this host, so the artifact carries the evidence
    val loadavg = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split("\\s+").take(3).mkString(" ")
    } catch { case _: Throwable => "unavailable" }

    // committed clean-window reference, embedded per key when present
    val record: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_record.json")), "UTF-8")
      // minimal parse of {"queries":{"k":v,...}} — no JSON lib on the
      // unmanaged classpath; the file is machine-written by this main
      val qsec = txt.split("\"queries\":\\{", 2)
      if (qsec.length < 2) Map.empty[String, Double]
      else qsec(1).takeWhile(_ != '}').split(",").flatMap { kv =>
        kv.split(":", 2) match {
          case Array(k, v) =>
            scala.util.Try(k.trim.stripPrefix("\"").stripSuffix("\"")
              -> v.trim.toDouble).toOption
          case _ => None
        }
      }.toMap
    } catch { case _: Throwable => Map.empty[String, Double] }

    def jnum(v: Double) = if (v.isNaN || v.isInfinite) "-1" else v.toString
    def jmap(m: Seq[(String, Double)]) = m
      .map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\]", "_")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")

    val total = results.map(_._2).filter(_ >= 0).sum
    val recKeys = results.collect {
      case (k, _) if record.contains(k) => k -> record(k) }
    val noise =
      s"""{"sentinel":"$sentinelKey","runs":[${sentinels.map(jnum).mkString(",")
        }],"spread":${jnum(spread)},"grade_spread":${jnum(gradeSpread)
        },"bracket_spreads":[${passes.indices.map(i => jnum(bracketSpread(i)))
          .mkString(",")}],"repair_passes":$repairs,"window_quality":"$quality","loadavg":${
        jstr(loadavg)},"volatile_keys":[${volatile.map(jstr).mkString(",")}]}"""
    val passTotals = passes.map(_.map(_._2).filter(_ >= 0).sum)
    // repair passes add resets beyond the base two
    val protocol = s"best_of_${passes.size}_reset"
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol","queries":${
        jmap(results)},"passes":[${passes.map(jmap).mkString(",")
        }],"pass_totals":[${passTotals.map(jnum).mkString(",")
        }],"noise":$noise,"record":${
        jmap(recKeys)},"errors":$es,"sf":"$sfDir"}"""

    // The driver captures only the LAST 2000 characters of stdout and
    // parses the JSON line out of that window; with 100+ queries the
    // full-precision line is >3 KB, so its head falls outside the
    // window and the artifact records parsed: null (observed r05).
    // Full precision goes to bench_last.json; stdout gets a line
    // BUDGETED to always fit: ms-rounded values, and if even that
    // overflows, the slowest queries keep their entries (the ones perf
    // grading needs) and the rest are counted in queries_omitted.
    val budget = 1700 // chars for the stdout line, epilogue headroom
    def ms(v: Double) = if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val entries = results.map { case (k, v) => k -> (s"\"" + k + "\":" + ms(v)) }
    val noiseShort =
      s""""noise":{"spread":${ms(spread)},"grade_spread":${ms(gradeSpread)
        },"repair_passes":$repairs,"window_quality":"$quality","volatile":${
        volatile.size},"loadavg":${jstr(loadavg)}},"""
    val fixedPre =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","protocol":"$protocol",$noiseShort"queries":{"""
    val esShort = if (es.length <= 200) es else "{}"
    // the line is budgeted (slowest keys only when it overflows) but
    // must carry a COMPLETE signal (r12 verdict #2 — the churning
    // visible set read as phantom dropped queries): the total key
    // count, the seconds the omitted keys sum to, and the md5 of the
    // full-map bench_last.json so a reader can verify the complete
    // per-key artifact matches this line
    val detailMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(fullLine.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def fixedPost(omitted: Int, omittedSec: Double) =
      s"""},"errors":$esShort,"queries_total":${results.size
        },"queries_omitted":$omitted,"omitted_total_sec":${ms(omittedSec)
        },"detail_md5":"$detailMd5","sf":"$sfDir"}"""
    val allLen = fixedPre.length + entries.map(_._2.length + 1).sum +
      fixedPost(0, 0.0).length
    val kept: Seq[String] =
      if (allLen <= budget) entries.map(_._1)
      else {
        val bySlow = results.sortBy { case (_, v) => -v }.map(_._1)
        val lenOf = entries.toMap.transform((_, e) => e.length + 1)
        // conservative sizing: assume worst-case omitted_total_sec width
        var used = fixedPre.length + fixedPost(results.size, 99999.999).length
        bySlow.takeWhile { k => used += lenOf(k); used <= budget }
      }
    val keptSet = kept.toSet
    val omittedSec = results
      .collect { case (k, v) if !keptSet(k) && v > 0 => v }.sum
    val line = fixedPre +
      entries.collect { case (k, e) if keptSet(k) => e }.mkString(",") +
      fixedPost(results.size - keptSet.size, omittedSec)
    println(line)
    // Best-effort: a failed write (read-only checkout, other cwd) must
    // not turn already-printed valid timings into a nonzero sbt exit
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] artifact write failed: $e") }
    // exit 0 even with per-query errors: the JSON line itself is the
    // artifact; a nonzero exit would make sbt fail the whole run and
    // could cost the driver the (still valid) timings of the others
    spark.stop()
  }
}
