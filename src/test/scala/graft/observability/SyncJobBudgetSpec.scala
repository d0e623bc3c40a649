package graft.observability

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.models.Schemas
import graft.sinks.{DerbyDialect, DerbyStore, JdbcMergeWriter, MergeSpecs}
import graft.streaming.RawBatches

/** Spark jobs and query executions per instrumented sync batch. A
  * small batch pays a fixed cost per job, and a fixed planning cost per
  * query, so these counts are the batch's latency budget.
  *  - A distributed batch (read back from parquet, as a file-source
  *    micro-batch is) runs the A4 dedup shuffle and the write pass; its
  *    tallies ride on those jobs.
  *  - A driver-resident batch (a local frame, as a polled snapshot is)
  *    runs no job and no query execution: the sink evaluates its
  *    projected rows on the driver from the analyzed plan
  *    (`graft.sources.LocalRows`), with no optimizer or physical
  *    planner, deduplicates and tallies them there and runs the writer
  *    function there. That holds for the employee batch, the task batch
  *    (its dimension and employee snapshots are read into maps the same
  *    way) and the backfill's watermark upsert. Once a transform is
  *    bound for a batch schema, a further batch of that schema runs no
  *    analyzer rule either.
  */
class SyncJobBudgetSpec extends SparkSpec {
  import RawBatches.{employee, task}

  private val jobs = new AtomicInteger
  private lazy val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** The events `counter` counts while `body` runs, drained before and
    * after.
    */
  private def countOf(counter: AtomicInteger)(body: => Unit): Int = {
    ListenerDrain(spark.sparkContext)
    counter.set(0)
    body
    ListenerDrain(spark.sparkContext)
    counter.get
  }

  /** Spark jobs started by `body`. */
  private def jobsOf(body: => Unit): Int = countOf(jobs)(body)

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

  /** A store with the watermark table beside the service's tables. */
  private def storeWithWatermark(name: String): DerbyStore = {
    val store = DerbyStore.create(name)
    store.exec("""CREATE TABLE scraper_status (id INT PRIMARY KEY,
      last_processed_date TIMESTAMP, updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    store
  }

  /** The backfill's watermark upsert of `day`, from a local frame. */
  private def watermark(store: DerbyStore, day: String): Unit = JdbcMergeWriter.upsert(
    spark.createDataFrame(Seq(Row(1, Timestamp.valueOf(day))).asJava,
      StructType(Schemas.scraperStatusTable.fields.take(2))),
    MergeSpecs.scraperStatus, DerbyDialect, store.cf)

  test("0 jobs per driver-resident batch and watermark upsert") {
    val store = storeWithWatermark("residentdb")
    val counts = counted(Seq(
      "employee insert" -> jobsOf(employeeBatch(store, employees("bad"))),
      "employee update" -> jobsOf(employeeBatch(store, employees("worse"))),
      "task insert" -> jobsOf(taskBatch(store, tasks("1 New Rd"))),
      "task update" -> jobsOf(taskBatch(store, tasks("2 New Rd"))),
      "watermark insert" -> jobsOf(watermark(store, "2024-01-02 00:00:00")),
      "watermark update" -> jobsOf(watermark(store, "2024-01-03 00:00:00"))))
    assert(counts.forall(_._2 == 0), s"a driver-resident batch ran jobs: $counts")
    assertWritten(store)
    assert(store.rows("SELECT last_processed_date FROM scraper_status") ==
      Vector(Vector(Timestamp.valueOf("2024-01-03 00:00:00"))))
  }

  test("no query execution per driver-resident batch") {
    val store = storeWithWatermark("noqueriesdb")
    val executions = new AtomicInteger
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    // the local frames are made before the count starts, as a poller
    // hands over a frame; the task batch's two snapshot frames are made
    // by its loaders, inside the count
    val (employeeInsert, employeeUpdate, taskInsert, taskUpdate) =
      (employees("bad"), employees("worse"), tasks("1 New Rd"), tasks("2 New Rd"))
    spark.listenerManager.register(queries)
    val counts = try Seq(
      "employee insert" -> countOf(executions)(employeeBatch(store, employeeInsert)),
      "employee update" -> countOf(executions)(employeeBatch(store, employeeUpdate)),
      "task insert" -> countOf(executions)(taskBatch(store, taskInsert)),
      "task update" -> countOf(executions)(taskBatch(store, taskUpdate)),
      "watermark insert" -> countOf(executions)(watermark(store, "2024-01-02 00:00:00")),
      "watermark update" -> countOf(executions)(watermark(store, "2024-01-03 00:00:00")))
    finally spark.listenerManager.unregister(queries)
    assert(counts.forall(_._2 == 0), s"a driver-resident batch executed a query: $counts")
    assertWritten(store)
    assert(store.rows("SELECT last_processed_date FROM scraper_status") ==
      Vector(Vector(Timestamp.valueOf("2024-01-03 00:00:00"))))
  }

  /** Analyzer and optimizer rules run by `body`, on every thread. */
  private def rulesOf(body: => Unit): Long = {
    val before = RuleExecutor.getCurrentMetrics().numRuns
    body
    RuleExecutor.getCurrentMetrics().numRuns - before
  }

  test("no analyzer rule runs for a second driver-resident batch of one schema") {
    val store = DerbyStore.create("norulesdb")
    // the first batch of each schema binds its transform
    employeeBatch(store, employees("bad"))
    taskBatch(store, tasks("1 New Rd"))
    // every frame of the second pair is made before the count starts:
    // the batches, as a poller hands them over, and the snapshots the
    // task batch's loaders return
    val framed = rulesOf(employees("x"))
    val (employeeUpdate, taskUpdate) = (employees("worse"), tasks("2 New Rd"))
    val (dim, staff) = (store.loadDim(spark)(), store.loadEmployees(spark)())
    val counts = Seq(
      "employee update" -> rulesOf(employeeBatch(store, employeeUpdate)),
      "task update" -> rulesOf(Observed.taskBatch(taskUpdate, DerbyDialect, store.cf,
        () => dim, () => staff, m)))
    assert(framed > 0, "the count sees a frame's own analysis")
    assert(counts.forall(_._2 == 0), s"a bound transform ran analyzer rules: $counts")
    assertWritten(store)
  }
}
