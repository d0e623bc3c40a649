package graft.observability

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.sinks.{DerbyDialect, DerbyStore}
import graft.streaming.RawBatches

/** Spark jobs per instrumented sync batch. A small batch pays a fixed
  * cost per job, so the job count is the batch's latency budget. The
  * employee batch runs the dedup shuffle and the MERGE pass; its
  * tallies ride on those jobs. The task batch runs the dedup shuffle
  * and the write pass, which also resolves the task types and
  * rewrites the bridge; its dimension and employee snapshots are read
  * and broadcast on the driver without a job.
  */
class SyncJobBudgetSpec extends SparkSpec {
  import RawBatches.{employee, task}

  test("at most 2 jobs per employee batch and 2 per task batch") {
    val store = DerbyStore.create("budgetdb")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      ListenerDrain(sc)
      jobs.set(0)
      body
      ListenerDrain(sc)
      jobs.get
    }
    val m = new Metrics
    def employees(edit: String) = RawBatches.employees(spark,
      (1L to 30L).map(i => employee(i, s"sn$i", if (i == 3) edit else s"e$i@example.com")): _*)
    def tasks(address: String) = RawBatches.tasks(spark,
      (1L to 40L).map(i => task(i, s"type-${i % 4}", if (i == 5) address else s"$i Main St",
        Seq(s"sn${i % 30}", s"sn${i % 7}", "unknown"))): _*)
    def taskBatch(address: String): Unit =
      Observed.taskBatch(tasks(address), DerbyDialect, store.cf,
        store.loadDim(spark), store.loadEmployees(spark), m)
    sc.addSparkListener(listener)
    try {
      val counts = Seq(
        "employee insert" -> jobsOf(Observed.employeeBatch(employees("bad"), DerbyDialect,
          store.cf, m)),
        "employee update" -> jobsOf(Observed.employeeBatch(employees("worse"), DerbyDialect,
          store.cf, m)),
        "task insert" -> jobsOf(taskBatch("1 New Rd")),
        "task update" -> jobsOf(taskBatch("2 New Rd")))
      val over = counts.filter { case (_, n) => n > 2 }
      assert(over.isEmpty, s"job budget exceeded: $counts")
    } finally sc.removeSparkListener(listener)
    assert(store.rows("SELECT count(*) FROM tasks").head.head.toString == "40")
  }
}
