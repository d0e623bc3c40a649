package graft.models

import org.apache.spark.sql.types._

/** Fixed schemas of the reference's row structs
  * (Employee: /root/reference/internal/models/employee.go:4-11;
  * Task: /root/reference/internal/models/task.go:16-28). The reference
  * infers them from its SQL column lists (SURVEY.md §1.3); here they
  * are fixed, never schema-inferred at read time. IDs are Long
  * (reference uses int) for 100 TB headroom.
  */
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
