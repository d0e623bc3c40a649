package bench

import scala.util.control.NonFatal

import Main.{Ctx, Outcome}

/** The workloads: set-up from the seed, the timed closed loop,
  * and the correctness check that runs after it.
  */
object Workloads {

  /** Minimum ticks in a run, whatever the deadline: enough for a
    * tail above the median (ten beyond it).
    */
  val MinTicks = 25
  /** Timed passes over the query slice: each query's reading is its
    * median over at least two runs.
    */
  val MinPasses = 2

  def sync(ctx: Ctx): Outcome = {
    val plan = SyncGen.generate(ctx.seed)
    val store = SyncWorkload.createStore(s"${ctx.work}/derby")
    val cf = JdbcProbe.factory(store.url, ctx.tracer.on)
    val model = new SyncModel
    // warm-up on a scratch store: three backfill days and six ticks, so
    // the timed ops do not carry the JVM's and Spark's first-use costs
    // (after one day, the first timed days still ran up to 1.6 times as
    // long as the last one)
    val warmup = SyncWorkload.createStore(s"${ctx.work}/warmup")
    SyncWorkload.run(ctx.spark, plan.copy(days = plan.days.take(3)), warmup,
      JdbcProbe.factory(warmup.url, traced = false), new SyncModel,
      new Tracer(false), System.nanoTime(), 6)
    ctx.startTiming()
    val (walls, failed, error) =
      try (Some(SyncWorkload.run(ctx.spark, plan, store, cf, model, ctx.tracer,
        ctx.deadline, MinTicks)), 0, None)
      catch { case NonFatal(e) => (None, 1, Some(s"sync op failed: $e")) }
    ctx.stopTiming()
    val w = walls.getOrElse(SyncWorkload.Walls(Vector.empty, Vector.empty, Vector(0.0), 0, 0, 0, 0, 0, 0))
    val problems = error.toSeq ++ (if (walls.isDefined) SyncWorkload.check(store, model) else Nil)
    // the median day's rate, so one slow day does not set the reading
    val rowsPerS =
      if (w.backfillDays.isEmpty) 0.0
      else Stats.median(w.backfillDays.zip(w.backfillRows).map { case (s, n) => n / s })
    val p50 = Stats.median(w.ticks)
    val tail = Stats.tail(w.ticks)
    val ops = w.backfillDays ++ w.ticks
    Outcome(ops, failed, p50, rowsPerS,
      Seq(("backfill_rows_per_s", rowsPerS, "rows/s"), ("tick_p50_s", p50, "s"),
        ("tick_tail_s", tail._2, "s"), ("tick_tail_percentile", tail._1, "%"),
        ("ticks", w.ticks.size.toDouble, "count"),
        // the traffic the assumed change mix produced (see BENCHMARK.md)
        ("poll_skip_share", w.skipped / math.max(w.polls, 1).toDouble, "ratio"),
        ("tick_changed_row_share", w.tickChangedRows / math.max(w.tickRows, 1L).toDouble, "ratio"),
        ("backfill_days", w.backfillDays.size.toDouble, "count")),
      problems,
      view => Layers.sync(view, w, ops.size))
  }

  def querySurface(ctx: Ctx): Outcome = {
    val data = ctx.data.getOrElse(throw new IllegalArgumentException("--data is required"))
    // set-up: graft.Verify dumps each slice query's result for the
    // oracle compare, which also compiles the queries' code and warms
    // the JVM; it stops its session, so timing runs on a fresh one,
    // after one untimed pass: a new session's first pass runs some
    // queries up to three times as long as the next passes
    graft.Verify.main(Array(data, s"${ctx.work}/dump", QueryWorkload.Slice.mkString(",")))
    ctx.startSession()
    val untraced = new Tracer(false)
    QueryWorkload.Slice.foreach(QueryWorkload.run(ctx.spark, data, _, untraced))
    ctx.startTiming()
    val walls = QueryWorkload.Slice.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var failed = 0
    var errors = Seq.empty[String]
    var passes = 0
    while (failed == 0 && (passes < MinPasses || System.nanoTime() < ctx.deadline)) {
      QueryWorkload.Slice.foreach { n =>
        try walls(n) += QueryWorkload.run(ctx.spark, data, n, ctx.tracer)
        catch { case NonFatal(e) => failed += 1; errors :+= s"$n failed: $e" }
      }
      passes += 1
    }
    ctx.stopTiming()
    val all = QueryWorkload.Slice.flatMap(walls(_))
    val ws = if (all.isEmpty) Seq(0.0) else all
    // sweep: each query's median over the passes, summed over the slice
    val perQuery = QueryWorkload.Slice.collect { case n if walls(n).nonEmpty => Stats.median(walls(n).toSeq) }
    val sweep = perQuery.sum
    val p90 = perQuery.sorted.lift(math.ceil(0.9 * perQuery.size).toInt - 1).getOrElse(0.0)
    val tail = Stats.tail(ws)
    Outcome(all, failed, Stats.median(ws), perQuery.size / math.max(sweep, 1e-9),
      Seq(("sweep_s", sweep, "s"), ("query_p50_s", Stats.median(ws), "s"),
        ("query_p90_s", p90, "s"), ("query_tail_s", tail._2, "s"),
        ("query_tail_percentile", tail._1, "%"),
        ("passes", passes.toDouble, "count"), ("queries", perQuery.size.toDouble, "count")),
      errors,
      view => Layers.queries(view, walls.map { case (n, w) => n -> w.sum }, passes))
  }
}
