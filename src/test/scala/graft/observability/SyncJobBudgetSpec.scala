package graft.observability

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.models.Schemas
import graft.sinks.{DerbyDialect, DerbyStore, JdbcMergeWriter, MergeSpecs}
import graft.streaming.RawBatches

/** Spark jobs per instrumented sync batch. A small batch pays a fixed
  * cost per job, so the job count is the batch's latency budget.
  *  - A distributed batch (read back from parquet, as a file-source
  *    micro-batch is) runs the A4 dedup shuffle and the write pass; its
  *    tallies ride on those jobs.
  *  - A driver-resident batch (a local frame, as a polled snapshot is)
  *    runs none: the sink collects its projected rows without a job,
  *    deduplicates and tallies them on the driver and runs the writer
  *    function there. That holds for the employee batch, the task batch
  *    (its dimension and employee snapshots are read into maps on the
  *    driver without a job) and the backfill's watermark upsert.
  */
class SyncJobBudgetSpec extends SparkSpec {
  import RawBatches.{employee, task}

  private val jobs = new AtomicInteger
  private lazy val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** Spark jobs started by `body`, drained before and after. */
  private def jobsOf(body: => Unit): Int = {
    ListenerDrain(spark.sparkContext)
    jobs.set(0)
    body
    ListenerDrain(spark.sparkContext)
    jobs.get
  }

  private def counted[T](body: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try body finally spark.sparkContext.removeSparkListener(listener)
  }

  private val m = new Metrics
  private def employees(edit: String) = RawBatches.employees(spark,
    (1L to 30L).map(i => employee(i, s"sn$i", if (i == 3) edit else s"e$i@example.com")): _*)
  private def tasks(address: String) = RawBatches.tasks(spark,
    (1L to 40L).map(i => task(i, s"type-${i % 4}", if (i == 5) address else s"$i Main St",
      Seq(s"sn${i % 30}", s"sn${i % 7}", "unknown"))): _*)
  private def employeeBatch(store: DerbyStore, batch: DataFrame): Unit =
    Observed.employeeBatch(batch, DerbyDialect, store.cf, m)
  private def taskBatch(store: DerbyStore, batch: DataFrame): Unit =
    Observed.taskBatch(batch, DerbyDialect, store.cf,
      store.loadDim(spark), store.loadEmployees(spark), m)

  /** Both batch pairs leave the update's rows in the store. */
  private def assertWritten(store: DerbyStore): Unit = {
    assert(store.rows("SELECT count(*) FROM tasks").head.head.toString == "40")
    assert(store.rows("SELECT address FROM tasks WHERE task_id = 5") == Vector(Vector("2 New Rd")))
    assert(store.rows("SELECT email FROM employees WHERE id = 3").head.head.toString
      .endsWith("@placeholder.local"))
  }

  test("at most 2 jobs per employee batch and 2 per task batch") {
    val store = DerbyStore.create("budgetdb")
    // written to parquet before the count starts: the write runs jobs
    val (employeeInsert, employeeUpdate, taskInsert, taskUpdate) = (
      RawBatches.onDisk(employees("bad")), RawBatches.onDisk(employees("worse")),
      RawBatches.onDisk(tasks("1 New Rd")), RawBatches.onDisk(tasks("2 New Rd")))
    val counts = counted(Seq(
      "employee insert" -> jobsOf(employeeBatch(store, employeeInsert)),
      "employee update" -> jobsOf(employeeBatch(store, employeeUpdate)),
      "task insert" -> jobsOf(taskBatch(store, taskInsert)),
      "task update" -> jobsOf(taskBatch(store, taskUpdate))))
    assert(counts.forall { case (_, n) => n >= 1 && n <= 2 },
      s"a distributed batch ran no job or exceeded 2: $counts")
    assertWritten(store)
  }

  test("0 jobs per driver-resident batch and watermark upsert") {
    val store = DerbyStore.create("residentdb")
    store.exec("""CREATE TABLE scraper_status (id INT PRIMARY KEY,
      last_processed_date TIMESTAMP, updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    def watermark(day: String): Unit = JdbcMergeWriter.upsert(
      spark.createDataFrame(Seq(Row(1, Timestamp.valueOf(day))).asJava,
        StructType(Schemas.scraperStatusTable.fields.take(2))),
      MergeSpecs.scraperStatus, DerbyDialect, store.cf)
    val counts = counted(Seq(
      "employee insert" -> jobsOf(employeeBatch(store, employees("bad"))),
      "employee update" -> jobsOf(employeeBatch(store, employees("worse"))),
      "task insert" -> jobsOf(taskBatch(store, tasks("1 New Rd"))),
      "task update" -> jobsOf(taskBatch(store, tasks("2 New Rd"))),
      "watermark insert" -> jobsOf(watermark("2024-01-02 00:00:00")),
      "watermark update" -> jobsOf(watermark("2024-01-03 00:00:00"))))
    assert(counts.forall(_._2 == 0), s"a driver-resident batch ran jobs: $counts")
    assertWritten(store)
    assert(store.rows("SELECT last_processed_date FROM scraper_status") ==
      Vector(Vector(Timestamp.valueOf("2024-01-03 00:00:00"))))
  }
}
