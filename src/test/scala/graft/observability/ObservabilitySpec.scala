package graft.observability

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.DriverManager

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sinks.{DerbyDialect, DerbyStore, JdbcMergeWriter}
import graft.streaming.RawBatches

/** Health endpoint contract permutations (health_test.go:33-151 —
  * exact bodies and status codes) + metrics exposition + instrumented
  * pipeline tallies.
  */
class ObservabilitySpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("healthz permutations: exact bodies and 200/503 codes") {
    // same four cases as health_test.go: ok / db-down / degraded / unreachable
    assert(Health.check(() => true, () => Health.UpstreamOk) ==
      ((200, """{"database":"ok","hermes_service":"ok"}""")))
    assert(Health.check(() => false, () => Health.UpstreamOk) ==
      ((503, """{"database":"unavailable","hermes_service":"ok"}""")))
    assert(Health.check(() => true, () => Health.UpstreamDegraded) ==
      ((503, """{"database":"ok","hermes_service":"degraded"}""")))
    assert(Health.check(() => true, () => Health.UpstreamUnreachable) ==
      ((503, """{"database":"ok","hermes_service":"unreachable"}""")))
    // a throwing upstream probe counts as unreachable (gRPC error leg)
    assert(Health.check(() => true, () => sys.error("conn refused"))._2
      .contains("unreachable"))
  }

  test("monitoring server serves /healthz and /metrics over HTTP") {
    val m = new Metrics
    m.incRuns("success")
    m.observeRunDuration("employee", 0.03)
    val srv = new MonitoringServer(0, m, () => true, () => Health.UpstreamOk)
    srv.start()
    try {
      val (hs, hb) = get(srv.actualPort, "/healthz")
      assert(hs == 200 && hb == """{"database":"ok","hermes_service":"ok"}""")
      val (ms, mb) = get(srv.actualPort, "/metrics")
      assert(ms == 200)
      assert(mb.contains("""hephaestus_runs_total{status="success"} 1"""))
      assert(mb.contains("""hephaestus_run_duration_seconds_bucket{type="employee",le="0.05"} 1"""))
      assert(mb.contains("""hephaestus_run_duration_seconds_count{type="employee"} 1"""))
    } finally srv.stop()
  }

  test("jdbc ping: ok against live Derby, unavailable against bogus url") {
    val ok = Health.jdbcPing(() =>
      DriverManager.getConnection("jdbc:derby:memory:healthdb;create=true"))
    assert(ok())
    val bad = Health.jdbcPing(() =>
      DriverManager.getConnection("jdbc:derby:doesnotexist"))
    assert(!bad())
  }

  test("instrumented employee batch records items, fixed emails, success run") {
    import spark.implicits._
    val url = "jdbc:derby:memory:obsdb;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("""CREATE TABLE employees (
      id BIGINT PRIMARY KEY, fullname VARCHAR(200), shortname VARCHAR(50),
      position VARCHAR(100), email VARCHAR(200), phone VARCHAR(50),
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    finally c.close()
    val m = new Metrics
    val batch = Seq(
      (1L, "A", "A1", "p", "good@example.com", "1"),
      (2L, "B", "B1", "p", "notanemail", "2"))
      .toDF("id", "fullname", "shortname", "position", "email", "phone")
    Observed.employeeBatch(batch, DerbyDialect, JdbcMergeWriter.connFactory(url), m)
    assert(m.counterValue("hephaestus_items_parsed_total", "type" -> "employee") == 2.0)
    assert(m.counterValue("hephaestus_emails_fixed_total") == 1.0)
    assert(m.counterValue("hephaestus_runs_total", "status" -> "success") == 1.0)

    // failing sink records a failure run and rethrows
    intercept[Exception] {
      bounded(Observed.employeeBatch(batch, DerbyDialect,
        JdbcMergeWriter.connFactory("jdbc:derby:memory:nosuch"), m))
    }
    assert(m.counterValue("hephaestus_runs_total", "status" -> "failure") == 1.0)
  }

  /** Runs `body`, failing the test instead of hanging if it blocks. */
  private def bounded[T](body: => T): T = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future(body), 2.minutes)
  }

  private lazy val store = DerbyStore.create("obsstore")

  /** The two shapes a batch reaches the sink in: as built, a local
    * frame written on the driver, and read back from parquet, a
    * distributed frame written from the executors.
    */
  private val shapes: Seq[(String, DataFrame => DataFrame)] =
    Seq("local" -> identity, "on disk" -> RawBatches.onDisk)

  private def taskBatch(batch: DataFrame, m: Metrics, s: DerbyStore = store): Unit =
    bounded(Observed.taskBatch(batch, DerbyDialect, s.cf, s.loadDim(spark),
      s.loadEmployees(spark), m))

  test("tallies count raw rows, duplicates included, from the write pass") {
    shapes.foreach { case (shape, as) =>
      val m = new Metrics
      val dup = RawBatches.employee(2, "b", "not-an-email")
      bounded(Observed.employeeBatch(as(RawBatches.employees(spark,
        RawBatches.employee(1, "a", "a@example.com"), dup, dup)), DerbyDialect, store.cf, m))
      assert(m.counterValue("hephaestus_items_parsed_total", "type" -> "employee") == 3.0,
        shape)
      assert(m.counterValue("hephaestus_emails_fixed_total") == 2.0,
        s"$shape: every raw row with an invalid email counts, as the reference tallies")
      assert(store.rows("SELECT id FROM employees ORDER BY id").map(_.head.toString) ==
        Seq("1", "2"), shape)

      val t = RawBatches.task(7, "repair", "1 Main St", Seq("a"))
      taskBatch(as(RawBatches.tasks(spark, t, t,
        RawBatches.task(8, "repair", "2 Oak Ave", Seq("b")))), m)
      assert(m.counterValue("hephaestus_items_parsed_total", "type" -> "task") == 3.0, shape)
      assert(m.counterValue("hephaestus_runs_total", "status" -> "success") == 2.0, shape)
      assert(store.rows("SELECT count(*) FROM task_executors").head.head.toString == "2",
        shape)
    }
  }

  test("an empty batch records zero tallies and a success run") {
    shapes.foreach { case (shape, as) =>
      val m = new Metrics
      bounded(Observed.employeeBatch(as(RawBatches.employees(spark)), DerbyDialect,
        store.cf, m))
      taskBatch(as(RawBatches.tasks(spark)), m)
      assert(m.counterValue("hephaestus_items_parsed_total", "type" -> "employee") == 0.0,
        shape)
      assert(m.counterValue("hephaestus_items_parsed_total", "type" -> "task") == 0.0, shape)
      assert(m.counterValue("hephaestus_emails_fixed_total") == 0.0, shape)
      assert(m.counterValue("hephaestus_runs_total", "status" -> "success") == 2.0, shape)
    }
  }

  test("a task sink failing inside the write records a failure run and rethrows") {
    val broken = DerbyStore.create("obsbroken")
    broken.exec("DROP TABLE tasks") // the type is created, then the fact MERGE fails
    shapes.foreach { case (shape, as) =>
      val m = new Metrics
      intercept[Exception] {
        taskBatch(as(RawBatches.tasks(spark, RawBatches.task(9, "repair", "1 Main St",
          Seq("a")))), m, broken)
      }
      assert(m.counterValue("hephaestus_runs_total", "status" -> "failure") == 1.0, shape)
      assert(m.counterValue("hephaestus_runs_total", "status" -> "success") == 0.0, shape)
    }
  }
}
