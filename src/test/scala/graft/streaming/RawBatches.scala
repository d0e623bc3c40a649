package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.models.Schemas

/** Upstream batches as the pipelines receive them (`Schemas.task`,
  * `Schemas.employee`), for tests that drive whole batches. `tasks`
  * and `employees` build local frames, which the sink writes on the
  * driver; [[onDisk]] turns one into a distributed frame, which it
  * writes from the executors.
  */
object RawBatches {
  val Created: Timestamp = Timestamp.valueOf("2024-01-02 10:00:00")
  /** Go's zero time: the upstream's closing date of an open task. */
  val ZeroTime: Timestamp = Timestamp.valueOf("0001-01-01 00:00:00")

  /** One upstream task; `comments` stays NULL (Derby has no arrays). */
  def task(id: Long, tpe: String, address: String, executors: Seq[String],
      closed: Boolean = false): Row =
    Row(id, tpe, Created, if (closed) Created else ZeroTime, s"task $id",
      address, s"customer $id", s"login$id", null, executors, closed)

  def tasks(spark: SparkSession, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, Schemas.task)

  /** One upstream employee with shortname `sn`. */
  def employee(id: Long, sn: String, email: String): Row =
    Row(id, s"Employee $id", sn, "engineer", email, "+380671234567")

  def employees(spark: SparkSession, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, Schemas.employee)

  /** `batch` written to one parquet file, in delivery order, and read
    * back: a frame whose plan is a file scan, as a file-source
    * micro-batch's is.
    */
  def onDisk(batch: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-rawbatch").resolve("batch").toString
    batch.coalesce(1).write.parquet(dir)
    batch.sparkSession.read.schema(batch.schema).parquet(dir)
  }
}
