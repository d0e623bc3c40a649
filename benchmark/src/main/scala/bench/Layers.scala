package bench

import Main.Ctx

/** Per-layer metrics of the traced run. Times and counts are per op
  * (tick or backfill day, query) unless named a ratio, so
  * runs that fit a different number of ops compare. Every workload
  * reports every name; a layer a workload does not reach reads 0.
  */
object Layers {

  val units: Seq[(String, String)] = Seq(
    "streaming.poll_s" -> "s", "streaming.gate_skip_ratio" -> "ratio",
    "streaming.backfill_day_s" -> "s", "streaming.employee_batch_s" -> "s",
    "streaming.task_batch_s" -> "s", "streaming.task_batch_jobs" -> "count",
    "sinks.txns" -> "count", "sinks.txn_s" -> "s", "sinks.store_call_s" -> "s",
    "sinks.statements" -> "count", "sinks.statements_per_row" -> "ratio",
    "sinks.rows_written" -> "count", "sinks.rows_written_per_changed_row" -> "ratio",
    "sinks.rollbacks" -> "count", "sinks.load_dim_s" -> "s", "sinks.load_employees_s" -> "s",
    "sources.batch_frame_s" -> "s") ++
    QueryWorkload.Families.map(f => s"queries.${f}_s" -> "s") ++ Seq(
    "queries.analysis_s" -> "s", "queries.optimize_s" -> "s",
    "queries.physical_plan_s" -> "s", "queries.eager_driver_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.core_util" -> "ratio", "spark.stage_skew" -> "ratio", "spark.driver_s" -> "s",
    "spark.codegen_compile_s" -> "s", "spark.codegen_classes" -> "count",
    "trace.coverage" -> "ratio", "trace.leaf_coverage" -> "ratio")

  private def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Metrics every workload has: Spark, planning, driver time, coverage. */
  def common(view: TraceView, ctx: Ctx): Map[String, Double] = {
    val n = view.roots.size
    val wall = view.roots.map(_.dur).sum / 1e9
    val planning = Seq("queries.analysis", "queries.optimize", "queries.physical_plan")
    val eager = view.roots.map { r =>
      r.dur - Spans.covered(r.start, r.end, view.spans
        .filter(s => s.traceId == r.traceId && (s.name == "spark.job" || planning.contains(s.name)))
        .map(s => (s.start, s.end)))
    }.sum / 1e9
    val sp = ctx.probe
    def sum(f: SparkProbe => Double): Double = sp.map(f).getOrElse(0.0)
    val taskS = sum(_.taskNanos.sum / 1e9)
    Map(
      "queries.analysis_s" -> per(view.seconds("queries.analysis"), n),
      "queries.optimize_s" -> per(view.seconds("queries.optimize"), n),
      "queries.physical_plan_s" -> per(view.seconds("queries.physical_plan"), n),
      "queries.eager_driver_s" -> per(eager, n),
      "spark.jobs" -> per(view.count("spark.job").toDouble, n),
      "spark.tasks" -> per(sum(_.tasks.sum.toDouble), n),
      "spark.task_s" -> per(taskS, n),
      "spark.gc_s" -> per(ctx.gcSeconds, n),
      "spark.shuffle_bytes" -> per(sum(_.shuffleBytes.sum.toDouble), n),
      "spark.spill_bytes" -> per(sum(_.spillBytes.sum.toDouble), n),
      "spark.core_util" -> ratio(taskS, wall * ctx.cores),
      "spark.stage_skew" -> sum(_.stageSkew),
      "spark.driver_s" -> per(view.outside("spark.job"), n),
      "spark.codegen_compile_s" -> per(ctx.codegen._2, n),
      "spark.codegen_classes" -> per(ctx.codegen._1.toDouble, n),
      "trace.coverage" -> view.coverage,
      "trace.leaf_coverage" -> view.leafCoverage,
      "sources.batch_frame_s" -> per(view.seconds("sources.batch_frame"), n))
  }

  def sync(view: TraceView, w: SyncWorkload.Walls, ops: Int): Map[String, Double] = {
    val tb = view.named("streaming.task_batch")
    val jobsInTaskBatches = view.named("spark.job").count(j => view.under(j, "streaming.task_batch"))
    Map(
      "streaming.poll_s" -> per(view.seconds("streaming.poll"), view.count("streaming.poll")),
      "streaming.gate_skip_ratio" -> ratio(w.skipped.toDouble, w.polls.toDouble),
      "streaming.backfill_day_s" -> per(view.seconds("streaming.backfill_day"), w.backfillDays.size),
      "streaming.employee_batch_s" -> per(view.seconds("streaming.employee_batch"),
        view.count("streaming.employee_batch")),
      "streaming.task_batch_s" -> per(view.seconds("streaming.task_batch"), tb.size),
      "streaming.task_batch_jobs" -> per(jobsInTaskBatches.toDouble, tb.size),
      "sinks.txns" -> per(JdbcProbe.txns.sum.toDouble, ops),
      "sinks.txn_s" -> per(JdbcProbe.txnNanos.sum / 1e9, ops),
      "sinks.store_call_s" -> per(JdbcProbe.storeNanos.sum / 1e9, ops),
      "sinks.statements" -> per(JdbcProbe.statements.sum.toDouble, ops),
      "sinks.statements_per_row" -> ratio(JdbcProbe.statements.sum.toDouble, w.rowsDelivered.toDouble),
      "sinks.rows_written" -> per(JdbcProbe.rowsWritten.sum.toDouble, ops),
      "sinks.rows_written_per_changed_row" -> ratio(JdbcProbe.rowsWritten.sum.toDouble, w.changedRows.toDouble),
      "sinks.rollbacks" -> per(JdbcProbe.rollbacks.sum.toDouble, ops),
      "sinks.load_dim_s" -> per(view.seconds("sinks.load_dim"), ops),
      "sinks.load_employees_s" -> per(view.seconds("sinks.load_employees"), ops))
  }

  def queries(view: TraceView, totals: Map[String, Double], passes: Int): Map[String, Double] =
    QueryWorkload.Families.map { f =>
      s"queries.${f}_s" -> per(totals.collect {
        case (n, t) if QueryWorkload.family(n) == f => t }.sum, passes)
    }.toMap

  /** Orders the metrics by [[units]], reading 0 where a layer was not reached. */
  def fill(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"metrics without a unit: $unknown")
    units.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
