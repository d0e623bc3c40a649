package graft.models

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Domain models mirroring the reference's row structs.
  *
  * Employee: /root/reference/internal/models/employee.go:4-11.
  * Task:     /root/reference/internal/models/task.go:16-28.
  * Schemas are fixed (the reference infers them from its SQL column
  * lists — SURVEY.md §1.3); never schema-infer at read time.
  * IDs are Long (reference uses int) for 100 TB headroom.
  */
final case class Employee(
    id: Long,
    fullname: String,
    shortname: String,
    position: String,
    email: String,
    phone: String)

final case class Task(
    id: Long,
    taskType: String,
    creationDate: Timestamp,
    closingDate: Option[Timestamp], // Go zero-time for open tasks → None
    description: String,
    address: String,
    customerName: String,
    customerLogin: String,
    comments: Seq[String],
    executors: Seq[String], // employee shortnames
    isClosed: Boolean)

object Schemas {

  /** Landing-zone employee payload (GetEmployees response element,
    * /root/reference/internal/services/employees/employees.go:144-158).
    */
  val employee: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("fullname", StringType),
    StructField("shortname", StringType),
    StructField("position", StringType),
    StructField("email", StringType),
    StructField("phone", StringType)))

  /** Landing-zone task payload (GetDailyTasks response element,
    * /root/reference/internal/services/tasks/tasks.go:207-226).
    */
  val task: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("type", StringType),
    StructField("creation_date", TimestampType),
    StructField("closing_date", TimestampType),
    StructField("description", StringType),
    StructField("address", StringType),
    StructField("customer_name", StringType),
    StructField("customer_login", StringType),
    StructField("comments", ArrayType(StringType)),
    StructField("executors", ArrayType(StringType)),
    StructField("is_closed", BooleanType, nullable = false)))

  /** State-table: scraper_status watermark
    * (/root/reference/internal/repository/scraper_status.go:16-19).
    */
  val scraperStatusTable: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("last_processed_date", TimestampType),
    StructField("updated_at", TimestampType)))
}
