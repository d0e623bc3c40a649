package graft.sinks

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** LIVE Postgres execution of the exact SQL text [[PostgresDialect]]
  * generates — the reference integration-tests its load path against a
  * real Postgres (/root/reference/internal/repository/database_test.go:15-68);
  * until now this repo covered the Postgres strings only as pinned
  * text (PostgresDialectSpec) with semantics proven on Derby.
  *
  * The container ships Postgres 15 server binaries but no Postgres
  * JDBC driver (zero egress), so each MERGE leg runs through `psql`
  * with the statement TEXT taken verbatim from the dialect and the `?`
  * placeholders bound to literals in the dialect's own param order —
  * a statement Postgres can't parse, or whose ON CONFLICT behavior
  * diverges from the Derby emulation, fails here. The suite bootstraps
  * a throwaway cluster under /tmp (run as the unprivileged `postgres`
  * user, unix-socket only) and cancels — not fails — where the
  * binaries are unavailable.
  */
class PostgresLiveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val pgBin = "/usr/lib/postgresql/15/bin"
  private val dataDir = s"/tmp/graft-pglive-${ProcessHandle.current().pid()}"
  private val sockDir = s"$dataDir-sock"
  private var up = false

  private lazy val haveBinaries: Boolean =
    Files.isExecutable(Paths.get(s"$pgBin/initdb")) &&
      scala.util.Try(Seq("su", "postgres", "-s", "/bin/sh", "-c", "true").! == 0)
        .getOrElse(false)

  private def asPg(cmd: String): Int =
    Seq("su", "postgres", "-s", "/bin/bash", "-c", s"cd /tmp && $cmd").!

  override def beforeAll(): Unit = {
    if (haveBinaries) {
      Seq("mkdir", "-p", dataDir, sockDir).!
      Seq("chown", "postgres:postgres", dataDir, sockDir).!
      require(asPg(s"$pgBin/initdb -D $dataDir -U graft --auth=trust >/dev/null") == 0,
        "initdb failed")
      require(asPg(s"$pgBin/pg_ctl -D $dataDir " +
        s"""-o "-c listen_addresses='' -k $sockDir" -l $dataDir.log start >/dev/null""") == 0,
        "pg_ctl start failed")
      up = true
      psql(Ddl)
    }
  }

  override def afterAll(): Unit = {
    if (up) asPg(s"$pgBin/pg_ctl -D $dataDir -m immediate stop >/dev/null")
    Seq("rm", "-rf", dataDir, sockDir, s"$dataDir.log").!
  }

  /** Pipe SQL to psql over the cluster's unix socket; fail the test on
    * any statement error (ON_ERROR_STOP).
    */
  private def psql(sql: String): String = {
    val out = new StringBuilder
    val err = new StringBuilder
    val logger = ProcessLogger(o => { out.append(o).append('\n'); () },
      e => { err.append(e).append('\n'); () })
    val cmd = Seq("su", "postgres", "-s", "/bin/bash", "-c",
      s"cd /tmp && psql -h $sockDir -U graft -d postgres -v ON_ERROR_STOP=1 -qtA")
    val code = (cmd #< new ByteArrayInputStream(sql.getBytes("UTF-8"))).!(logger)
    assert(code == 0, s"psql failed (${err.toString.trim}) for:\n$sql")
    out.toString
  }

  /** Bind JDBC `?` placeholders to SQL literals, in order — the text
    * around the placeholders is untouched dialect output. A `?` inside
    * a quoted string literal is NOT a placeholder (JDBC's own rule);
    * a simple in-quote scan skips those, so a dialect that one day
    * emits `'?'` in a literal can't mis-splice or trip the leftover
    * check. Doubled quotes ('') inside a literal toggle the state
    * twice and land back in-quote, as required.
    */
  private def bind(sql: String, values: Seq[Any]): String = {
    val it = values.iterator
    val sb = new StringBuilder
    var inQuote = false
    sql.foreach {
      case '\'' => inQuote = !inQuote; sb.append('\'')
      case '?' if !inQuote => sb.append(it.next() match {
        case null => "NULL"
        case s: String => "'" + s.replace("'", "''") + "'"
        case other => other.toString
      })
      case c => sb.append(c)
    }
    require(!it.hasNext, "more bind values than placeholders")
    sb.append(";").toString
  }

  /** Table shapes mirroring the reference store (employee.go,
    * task.go:81-140, scraper_status.go:16-19): conflict targets are
    * the PKs / the task_types.type_name unique key.
    */
  private val Ddl = """
    CREATE TABLE employees (
      id BIGINT PRIMARY KEY,
      fullname TEXT, shortname TEXT, position TEXT, email TEXT, phone TEXT,
      updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP);
    CREATE TABLE tasks (
      task_id BIGINT PRIMARY KEY,
      task_type_id BIGINT, creation_date TIMESTAMP, closing_date TIMESTAMP,
      description TEXT, address TEXT, customer_name TEXT, customer_login TEXT,
      comments TEXT, is_closed BOOLEAN,
      latitude DOUBLE PRECISION, longitude DOUBLE PRECISION,
      geocoding_attempts INT NOT NULL DEFAULT 0, geocoding_error TEXT,
      updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP);
    CREATE TABLE task_types (
      id BIGSERIAL PRIMARY KEY, type_name TEXT UNIQUE NOT NULL);
    CREATE TABLE task_executors (
      task_id BIGINT NOT NULL, executor_id BIGINT NOT NULL);
    CREATE TABLE scraper_status (
      id BIGINT PRIMARY KEY, last_processed_date TIMESTAMP,
      updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP);
  """

  test("K2 employees upsert: insert, identical-skip, real update (live Postgres)") {
    assume(haveBinaries && up, "postgres binaries unavailable in this environment")
    val SingleStatementMerge(sql, params) =
      PostgresDialect.mergePlan(MergeSpecs.employees): @unchecked
    val alice = Map[String, Any]("id" -> 1, "fullname" -> "Alice O'Hara",
      "shortname" -> "AO1", "position" -> "Engineer",
      "email" -> "alice@example.com", "phone" -> "+10000000001")
    psql(bind(sql, params.map(alice)))
    val t1 = psql("SELECT email, updated_at FROM employees WHERE id = 1;").trim
    // identical payload: the IS DISTINCT FROM guard must SKIP the update
    // (updated_at untouched) — the reference's employees.go:111-114 skip
    psql(bind(sql, params.map(alice)))
    val t2 = psql("SELECT email, updated_at FROM employees WHERE id = 1;").trim
    assert(t2 == t1, "identical upsert must not touch the row")
    // changed payload: row updates and updated_at advances
    psql("SELECT pg_sleep(0.01);")
    psql(bind(sql, params.map(alice + ("email" -> "new@example.com"))))
    val t3 = psql("SELECT email, updated_at FROM employees WHERE id = 1;").trim
    assert(t3.startsWith("new@example.com|") && t3 != t1)
    assert(psql("SELECT count(*) FROM employees;").trim == "1")
  }

  test("K3 tasks upsert: geo preserved on same address, reset on change (live Postgres)") {
    assume(haveBinaries && up, "postgres binaries unavailable in this environment")
    val SingleStatementMerge(sql, params) =
      PostgresDialect.mergePlan(MergeSpecs.tasks): @unchecked
    val task = Map[String, Any]("task_id" -> 10, "task_type_id" -> 2,
      "creation_date" -> "2024-03-01 10:00:00", "closing_date" -> null,
      "description" -> "fix pipe", "address" -> "Main St 1",
      "customer_name" -> "Bob", "customer_login" -> "bob1",
      "comments" -> null, "is_closed" -> false)
    psql(bind(sql, params.map(task)))
    // geocoder filled these out of band
    psql("""UPDATE tasks SET latitude = 55.75, longitude = 37.62,
      geocoding_attempts = 3, geocoding_error = 'quota' WHERE task_id = 10;""")
    // same address, changed description → geo state preserved
    psql(bind(sql, params.map(task + ("description" -> "fix pipe urgently"))))
    assert(psql(
      "SELECT description, latitude, geocoding_attempts, geocoding_error FROM tasks WHERE task_id = 10;")
      .trim == "fix pipe urgently|55.75|3|quota")
    // changed address → all four geo legs reset (task.go:99-109)
    psql(bind(sql, params.map(task + ("address" -> "Main St 2"))))
    assert(psql(
      "SELECT address, latitude, longitude, geocoding_attempts, geocoding_error FROM tasks WHERE task_id = 10;")
      .trim == "Main St 2||" + "|0|")
  }

  test("K1/K4 insert-if-absent: ON CONFLICT DO NOTHING is idempotent (live Postgres)") {
    assume(haveBinaries && up, "postgres binaries unavailable in this environment")
    val SingleStatementMerge(sql, params) = PostgresDialect.insertIgnorePlan(
      "task_types", Seq("type_name"), Seq("type_name")): @unchecked
    psql(bind(sql, params.map(_ => "installation")))
    psql(bind(sql, params.map(_ => "installation")))
    psql(bind(sql, params.map(_ => "repair")))
    assert(psql("SELECT count(*) FROM task_types;").trim == "2")
    // serial ids are store-assigned, gap on conflict is fine — the
    // get-or-create contract is one row per distinct name
    assert(psql("SELECT count(DISTINCT type_name) FROM task_types;").trim == "2")
  }

  test("K5 bridge rewrite: DELETE by group key then INSERT (live Postgres)") {
    assume(haveBinaries && up, "postgres binaries unavailable in this environment")
    val ins = PostgresDialect.insertSql("task_executors", Seq("task_id", "executor_id"))
    psql(bind(ins, Seq(1, 100)))
    psql(bind(ins, Seq(1, 101)))
    psql(bind(ins, Seq(2, 200)))
    val read = PostgresDialect.readGroupsSql("task_executors", "task_id", "executor_id", 3)
    assert(psql(bind(read, Seq(1, 2, 3))).trim.linesIterator.toSeq.sorted ==
      Seq("1|100", "1|101", "2|200"), "the stored groups; an absent one reads no row")
    psql(bind(PostgresDialect.deleteGroupsSql("task_executors", "task_id"), Seq(1)))
    psql(bind(ins, Seq(1, 102)))
    assert(psql(
      "SELECT task_id, executor_id FROM task_executors ORDER BY task_id, executor_id;")
      .trim.linesIterator.toSeq == Seq("1|102", "2|200"))
  }

  test("K6 watermark upsert: single row advances (live Postgres)") {
    assume(haveBinaries && up, "postgres binaries unavailable in this environment")
    val SingleStatementMerge(sql, params) =
      PostgresDialect.mergePlan(MergeSpecs.scraperStatus): @unchecked
    def leg(d: String) = psql(bind(sql,
      params.map(Map[String, Any]("id" -> 1, "last_processed_date" -> d))))
    leg("2024-03-01 00:00:00")
    leg("2024-03-02 00:00:00")
    assert(psql("SELECT count(*), max(last_processed_date) FROM scraper_status;")
      .trim == "1|2024-03-02 00:00:00")
  }
}
