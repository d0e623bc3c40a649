package graft.observability

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, count_if, lit}

import graft.functions.Validation
import graft.sinks.SqlDialect
import graft.sinks.JdbcMergeWriter.ConnFactory
import graft.streaming.Pipelines

/** Pipeline bodies instrumented with the reference's metric semantics
  * (SURVEY.md §3.1/§3.2 "commit hash + metrics" steps):
  * runs_total{success|failure} per cycle, items_parsed_total per
  * batch, emails_fixed_total (employees.go:166-193 tally),
  * run_duration_seconds, last_successful_run_timestamp.
  */
object Observed {

  def employeeBatch(batch: DataFrame, dialect: SqlDialect, cf: ConnFactory,
      metrics: Metrics): Unit =
    run(metrics, "employee") {
      val tally = tallied(batch,
        count_if(Validation.emailWasRepaired(col("email"))).as("fixed")) { b =>
        metrics.time(metrics.observeDbQuery("merge_employees", _)) {
          Pipelines.employeeBatch(b, dialect, cf)
        }
      }
      metrics.incItemsParsed("employee", tally("items"))
      metrics.incEmailsFixed(tally("fixed"))
    }

  def taskBatch(batch: DataFrame, dialect: SqlDialect, cf: ConnFactory,
      loadDim: () => DataFrame, loadEmployees: () => DataFrame,
      metrics: Metrics): Unit =
    run(metrics, "task") {
      val tally = tallied(batch) { b =>
        metrics.time(metrics.observeDbQuery("save_task_data", _)) {
          Pipelines.taskBatch(b, dialect, cf, loadDim, loadEmployees)
        }
      }
      metrics.incItemsParsed("task", tally("items"))
    }

  /** Runs `write` over `batch` observed with a raw row count
    * (`items`) plus `extra` tallies, and returns them by name. The
    * tallies come from the write's own jobs (`Dataset.observe`), so
    * counting costs no extra pass; they are read only after the write
    * succeeded, which is when Spark has completed the observation.
    */
  private def tallied(batch: DataFrame, extra: Column*)(
      write: DataFrame => Unit): Map[String, Double] = {
    val observation = Observation()
    write(batch.observe(observation, count(lit(1)).as("items"), extra: _*))
    observation.get.map { case (k, v) => k -> v.asInstanceOf[Long].toDouble }
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
