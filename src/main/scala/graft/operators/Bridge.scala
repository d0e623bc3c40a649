package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.LocalRows

/** Join-table (bridge) rewrite — K5 + J1 in SURVEY.md §2.
  *
  * The reference rewrites `task_executors` per task: DELETE all rows
  * for the task_id, then for each executor shortname INSERT with a
  * scalar subquery resolving shortname → employee id; an unmatched
  * shortname inserts a NULL executor_id
  * (/root/reference/internal/repository/task.go:125-151).
  *
  * Dataflow form: explode the executors array, broadcast-join the
  * employee dimension on shortname with a LEFT join (inner would
  * silently drop unmatched names — semantics J1 forbids), and overwrite
  * each affected task's group (delete+insert = idempotent group
  * overwrite, absorbing replays).
  *
  * Scale: employees is a dimension → `broadcast()` pins a broadcast
  * hash join, zero shuffle on the (huge) exploded side. Skew caution
  * (SURVEY.md §7.3): an executors array is tiny per row, but a skewed
  * explode (one task with millions of entries) is handled by AQE skew
  * join since the probe side is the exploded one.
  */
object Bridge {

  /** Exploded bridge rows `(taskIdCol, shortname, executor_id)`.
    * `explode_outer` keeps tasks whose array is empty/NULL visible with
    * a NULL shortname, matching "DELETE happened, nothing re-inserted".
    */
  def resolveExecutors(tasks: DataFrame, employees: DataFrame,
      taskIdCol: String, executorsCol: String,
      empIdCol: String, shortnameCol: String): DataFrame = {
    val exploded = tasks.select(col(taskIdCol),
      explode_outer(col(executorsCol)).as(shortnameCol))
    exploded
      .join(broadcast(employees.select(col(shortnameCol),
        col(empIdCol).as("executor_id"))), Seq(shortnameCol), "left")
      .select(col(taskIdCol), col(shortnameCol), col("executor_id"))
  }

  /** Driver-side J1 index for the sink's fused bridge write
    * (`JdbcMergeWriter.upsertWithBridge`): shortname → the id of every
    * employee with that shortname. Employees is a dimension, so it is
    * read once per batch into a plain map the sink's writer function
    * closes over: a driver-resident snapshot's columns are read by
    * name, with no `select` and no query (`LocalRows`), any other
    * snapshot's through `collect()`.
    */
  def shortnameIndex(employees: DataFrame, empIdCol: String,
      shortnameCol: String): Map[String, Seq[Any]] =
    LocalRows.collect(employees, shortnameCol, empIdCol)
      .filter(_.getAs[String](shortnameCol) != null)
      .groupMap(_.getAs[String](shortnameCol))(_.getAs[Any](empIdCol))

  /** One task's bridge members with the LEFT join's multiplicity: one
    * id per employee sharing the shortname, one NULL for an unknown or
    * NULL shortname. An empty or NULL array has no members — the
    * reference DELETEs the task's rows and inserts none
    * (task.go:125-151).
    */
  def resolveMembers(shortnames: scala.collection.Seq[String],
      index: Map[String, Seq[Any]]): Seq[Any] =
    if (shortnames == null) Nil
    else shortnames.toSeq.flatMap(sn => index.getOrElse(sn, UnmatchedMember))

  private val UnmatchedMember: Seq[Any] = Seq(null)
}
