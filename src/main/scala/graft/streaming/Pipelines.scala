package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{Dates, Validation}
import graft.models.Schemas
import graft.operators.{Bridge, Dimension}
import graft.sinks.{JdbcMergeWriter, MergeSpecs, SqlDialect}
import graft.sinks.JdbcMergeWriter.{BridgeSpec, ConnFactory, DimensionSpec, Tally}

/** The two reference pipelines re-expressed Spark-first
  * (SURVEY.md §3.1/§3.2): landing-zone payloads → declarative
  * transforms (Catalyst-optimized) → idempotent JDBC MERGE in
  * `foreachBatch`.
  *
  * Replaces the reference's per-row round-trips (1 SELECT + 1 write
  * per employee; ≥4 statements per task) with set-oriented MERGEs,
  * JDBC-batched per chunk of rows. A batch the driver already holds (a
  * polled snapshot) is projected and written on the driver with no
  * Spark job; any other batch (the file-source streams) is written per
  * partition from the executors — [[JdbcMergeWriter]] picks the shape
  * from the batch's plan. Either way the sink keeps the last row per
  * key in delivery order (A4).
  *
  * Ordering: employees before tasks within a cycle (executors resolve
  * against employees — main.go:85 encodes this with a sleep; here it
  * is an explicit call order), and inside the task batch
  * dim → fact → bridge (K7, task.go:47-72) per chunk of one sink pass.
  */
object Pipelines {

  // ---- employee pipeline (§3.1) -------------------------------------------

  /** Flags a row whose email was repaired (the A3 tally). */
  private val EmailFixed = "email_fixed"

  /** T1 projection + T3/T4 email repair, with [[EmailFixed]] set on
    * each repaired row. Phone is validated (T5) but not repaired —
    * reference behavior: invalid phones pass through untouched
    * (employees.go:199-212 only tallies). One projection, so over a
    * local batch Spark folds it into the local rows (no job).
    */
  def transformEmployees(raw: DataFrame): DataFrame =
    raw.select(
      col("id").cast("long").as("id"),
      col("fullname"), col("shortname"), col("position"),
      Validation.repairEmail(col("email"), col("id")).as("email"),
      col("phone"),
      Validation.emailWasRepaired(col("email")).as(EmailFixed))

  /** foreachBatch body: MERGE with skip-if-identical (K1+K2+T6 pushed
    * into the store — identical rows produce zero writes), the last row
    * per id (A4). Returns the batch's raw rows and repaired emails.
    */
  def employeeBatch(batch: DataFrame, dialect: SqlDialect, cf: ConnFactory): Tally =
    JdbcMergeWriter.upsert(transformEmployees(batch), MergeSpecs.employees,
      dialect, cf, Some(EmailFixed))

  /** Structured Streaming form: landing-zone parquet → MERGE sink.
    * Checkpoint replaces the reference's scraper_status for progress;
    * `Trigger.ProcessingTime("10 minutes")` matches the reference
    * cadence (config.go:30), `Trigger.AvailableNow` drains a backlog.
    * `cleanSource` ("delete" / "archive" / "off") is the landing-zone
    * retention primary path: the file source removes each file once its
    * batch commits, so the zone stays bounded (see [[LandingZone]]).
    */
  def employeeStream(spark: SparkSession, landingDir: String,
      checkpointDir: String, dialect: SqlDialect, cf: ConnFactory,
      trigger: Trigger = Trigger.ProcessingTime("10 minutes"),
      cleanSource: String = "delete"): StreamingQuery =
    spark.readStream.schema(Schemas.employee)
      .option("cleanSource", cleanSource)
      .parquet(landingDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) => employeeBatch(b, dialect, cf); () }
      .start()

  // ---- task pipeline (§3.2) -----------------------------------------------

  /** T2 projection + T7 date normalization + T9 zero-time→NULL. */
  def transformTasks(raw: DataFrame): DataFrame =
    raw.select(
      col("id").cast("long").as("task_id"),
      col("type").as("type_name"),
      col("creation_date"),
      Dates.zeroTimeToNull(col("closing_date")).as("closing_date"),
      col("description"), col("address"),
      col("customer_name"), col("customer_login"),
      col("comments"), col("executors"), col("is_closed"))

  /** foreachBatch body for tasks: one write pass over the last row
    * per task (A4), in K7 order per chunk of fact rows (task.go:47-72):
    *  1. dim: each task's type name resolves through the task_types
    *     snapshot; a name it lacks is created in the store by the sink
    *     (K4, INSERT-if-absent then re-read — ids stay store-assigned,
    *     never generated in Spark);
    *  2. fact: MERGE tasks with the geo-preservation CASE (K3);
    *  3. bridge: DELETE then INSERT the chunk's task_executors groups
    *     (K5), executors resolved through the employee snapshot (J1:
    *     unmatched ⇒ NULL, empty array ⇒ no rows). Each task's bridge
    *     group commits atomically with its fact row.
    *
    * The two snapshots are plain maps the writer function closes over,
    * with no explicit broadcast: a local batch is written on the
    * driver, and a distributed one ships them in its write stage's task
    * binary, which Spark broadcasts once per stage. Returns the batch's
    * raw row count.
    *
    * @param loadDim       reads current task_types (type_id, type_name)
    * @param loadEmployees reads current employees (id, shortname)
    */
  def taskBatch(batch: DataFrame, dialect: SqlDialect, cf: ConnFactory,
      loadDim: () => DataFrame, loadEmployees: () => DataFrame): Tally = {
    val types = Dimension.index(loadDim(), "type_id", "type_name")
    val employees = Bridge.shortnameIndex(loadEmployees(), "id", "shortname")
    JdbcMergeWriter.upsertWithBridge(transformTasks(batch), MergeSpecs.tasks,
      DimensionSpec("task_types", "type_id", "type_name", "task_type_id", types.get),
      BridgeSpec("task_executors", "task_id", "executor_id",
        r => Bridge.resolveMembers(r.getAs[scala.collection.Seq[String]]("executors"),
          employees)),
      dialect, cf)
  }

  def taskStream(spark: SparkSession, landingDir: String, checkpointDir: String,
      dialect: SqlDialect, cf: ConnFactory,
      loadDim: () => DataFrame, loadEmployees: () => DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("10 minutes"),
      cleanSource: String = "delete"): StreamingQuery =
    spark.readStream.schema(Schemas.task)
      .option("cleanSource", cleanSource)
      .parquet(landingDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        taskBatch(b, dialect, cf, loadDim, loadEmployees)
        ()
      }
      .start()
}
