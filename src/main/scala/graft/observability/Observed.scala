package graft.observability

import org.apache.spark.sql.DataFrame

import graft.sinks.SqlDialect
import graft.sinks.JdbcMergeWriter.ConnFactory
import graft.streaming.Pipelines

/** Pipeline bodies instrumented with the reference's metric semantics
  * (SURVEY.md §3.1/§3.2 "commit hash + metrics" steps):
  * runs_total{success|failure} per cycle, items_parsed_total per
  * batch, emails_fixed_total (employees.go:166-193 tally),
  * run_duration_seconds, last_successful_run_timestamp.
  *
  * The tallies come from the write itself
  * ([[graft.sinks.JdbcMergeWriter.Tally]]): raw rows, duplicates
  * included, and repaired emails over those raw rows — from the rows
  * of a local batch as the driver evaluates them, or from the write's
  * own jobs for a distributed one. A failed write records none.
  */
object Observed {

  def employeeBatch(batch: DataFrame, dialect: SqlDialect, cf: ConnFactory,
      metrics: Metrics): Unit =
    run(metrics, "employee") {
      val tally = metrics.time(metrics.observeDbQuery("merge_employees", _)) {
        Pipelines.employeeBatch(batch, dialect, cf)
      }
      metrics.incItemsParsed("employee", tally.rows.toDouble)
      metrics.incEmailsFixed(tally.flagged.toDouble)
    }

  def taskBatch(batch: DataFrame, dialect: SqlDialect, cf: ConnFactory,
      loadDim: () => DataFrame, loadEmployees: () => DataFrame,
      metrics: Metrics): Unit =
    run(metrics, "task") {
      val tally = metrics.time(metrics.observeDbQuery("save_task_data", _)) {
        Pipelines.taskBatch(batch, dialect, cf, loadDim, loadEmployees)
      }
      metrics.incItemsParsed("task", tally.rows.toDouble)
    }

  /** Cycle wrapper: success/failure counters + duration + last-success
    * gauge, failure rethrown after recording (the reference aborts the
    * cycle and retries next tick, employees.go:69-71).
    */
  private def run(metrics: Metrics, tpe: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      metrics.observeRunDuration(tpe, (System.nanoTime() - t0) / 1e9)
      metrics.incRuns("success")
      metrics.setLastSuccessfulRun(tpe, System.currentTimeMillis() / 1000)
    } catch {
      case e: Throwable =>
        metrics.observeRunDuration(tpe, (System.nanoTime() - t0) / 1e9)
        metrics.incRuns("failure")
        throw e
    }
  }
}
