package graftbench

/** The metrics every workload prints, whatever graft layers its ops
  * call, so that each workload reports the same names. */
object Layers {

  /** End-to-end: `setup_s` is the median set-up time and `op_p50_ms`
    * the geometric mean over the workload's op kinds of each kind's
    * median latency. A single median over a mix of kinds whose costs
    * differ tenfold lands on whichever kind sits at the middle, and
    * flips from run to run; the mean of the kind medians does not.
    * Ops per second is left out: one closed-loop client makes it the
    * inverse of the mean latency, which the few slowest ops dominate,
    * and on egraph_serve it spread about twice as wide as `op_p50_ms`
    * over the same runs. */
  def e2e(setupS: Seq[Double], ops: Seq[(String, Double)]): Seq[Metric] =
    Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("op_p50_ms", Stats.geomean(
        ops.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2))).toSeq), "ms"))

  /** Per layer, from the counters attributed to the spans of traced
    * ops: the `spark` runtime's per-op job, stage, task, planning,
    * scheduling and executor figures (means over the root spans named
    * in `roots`), and the op time no Spark job covers — graft's own
    * driver-side code, query planning and job submission. The
    * per-call self times of the graft layers go to the artifact. */
  def spark(ctx: Ctx, spans: Seq[Span], cnt: Map[Long, Counters],
      roots: Set[String]): Seq[Metric] = {
    val ops = spans.filter(s => s.parent == 0L && roots(s.name))
    val byOp = spans.groupBy(_.op)
    val per = ops.map { o =>
      val c = new Counters
      byOp.getOrElse(o.id, Nil).foreach(s => cnt.get(s.id).foreach(c.add))
      (o, c)
    }
    val n = math.max(1, per.size).toDouble
    val tot = new Counters
    per.foreach(p => tot.add(p._2))
    val wallMs = ops.map(_.durNs).sum / 1e6
    val jobWallMs = per.map(_._2.jobWallMs).sum.toDouble
    Seq(
      Metric("spark.jobs_per_op", tot.jobs / n, "count"),
      Metric("spark.stages_per_op", tot.stages / n, "count"),
      Metric("spark.tasks_per_op", tot.tasks / n, "count"),
      Metric("spark.plan_ms_per_op", tot.planMs / n, "ms"),
      Metric("spark.sched_delay_ms_per_op", tot.schedDelayMs / n, "ms"),
      Metric("spark.job_wall_ms_per_op", jobWallMs / n, "ms"),
      Metric("spark.task_cpu_ms_per_op", tot.cpuNs / 1e6 / n, "ms"),
      Metric("spark.task_run_ms_per_op", tot.runMs / n, "ms"),
      Metric("spark.gc_ms_per_op", tot.gcMs / n, "ms"),
      Metric("spark.shuffle_read_bytes_per_op", tot.shuffleRead / n, "bytes"),
      Metric("spark.shuffle_write_bytes_per_op", tot.shuffleWrite / n, "bytes"),
      Metric("spark.input_bytes_per_op", tot.inputBytes / n, "bytes"),
      Metric("spark.parallel_eff", tot.cpuNs / 1e6 / math.max(1e-9, wallMs * ctx.cores),
        "ratio"),
      Metric("graft.driver_ms_per_op", math.max(0.0, wallMs - jobWallMs) / n, "ms"))
  }
}
