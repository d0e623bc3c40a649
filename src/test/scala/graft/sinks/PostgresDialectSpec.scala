package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot tests pinning the EXACT Postgres SQL text the dialect
  * generates for every MERGE leg — the production store never runs
  * in-container (only Derby does), so these strings are the contract.
  * The reference pins its SQL verbatim the same way
  * (/root/reference/internal/repository/employee_test.go:14-25), and
  * each expected string below mirrors the corresponding reference
  * statement's shape:
  *  - K1 insert-if-absent → employee.go:23-27 (ON CONFLICT DO NOTHING)
  *  - K2 skip-if-identical upsert → employee.go:48-52 + the reference's
  *    app-side identical-skip (employees.go:111-114) pushed into WHERE
  *  - K3 conditional geo-preserve upsert → task.go:81-113
  *  - K4 dimension insert-if-absent → task.go:25-29
  *  - K5 bridge delete+insert → task.go:132-140, and the stored-group
  *    read that skips an unchanged group (the reference rewrites all)
  *  - K6 watermark upsert → scraper_status.go:16-19
  */
class PostgresDialectSpec extends AnyFunSuite {

  test("K2: employees upsert — ON CONFLICT DO UPDATE with identical-skip WHERE") {
    val SingleStatementMerge(sql, params) =
      PostgresDialect.mergePlan(MergeSpecs.employees): @unchecked
    assert(sql ==
      "INSERT INTO employees (id, fullname, shortname, position, email, phone) " +
        "VALUES (?, ?, ?, ?, ?, ?) " +
        "ON CONFLICT (id) DO UPDATE SET " +
        "fullname = EXCLUDED.fullname, shortname = EXCLUDED.shortname, " +
        "position = EXCLUDED.position, email = EXCLUDED.email, " +
        "phone = EXCLUDED.phone, updated_at = CURRENT_TIMESTAMP " +
        "WHERE (employees.fullname, employees.shortname, employees.position, " +
        "employees.email, employees.phone) IS DISTINCT FROM " +
        "(EXCLUDED.fullname, EXCLUDED.shortname, EXCLUDED.position, " +
        "EXCLUDED.email, EXCLUDED.phone)")
    assert(params == Seq("id", "fullname", "shortname", "position", "email", "phone"))
  }

  test("K3: tasks upsert — four geo CASE legs keyed on address change") {
    val SingleStatementMerge(sql, params) =
      PostgresDialect.mergePlan(MergeSpecs.tasks): @unchecked
    assert(sql ==
      "INSERT INTO tasks (task_id, task_type_id, creation_date, closing_date, " +
        "description, address, customer_name, customer_login, comments, is_closed) " +
        "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?) " +
        "ON CONFLICT (task_id) DO UPDATE SET " +
        "task_type_id = EXCLUDED.task_type_id, " +
        "creation_date = EXCLUDED.creation_date, " +
        "closing_date = EXCLUDED.closing_date, " +
        "description = EXCLUDED.description, " +
        "address = EXCLUDED.address, " +
        "customer_name = EXCLUDED.customer_name, " +
        "customer_login = EXCLUDED.customer_login, " +
        "comments = EXCLUDED.comments, " +
        "is_closed = EXCLUDED.is_closed, " +
        "latitude = CASE WHEN tasks.address IS DISTINCT FROM EXCLUDED.address " +
        "THEN NULL ELSE tasks.latitude END, " +
        "longitude = CASE WHEN tasks.address IS DISTINCT FROM EXCLUDED.address " +
        "THEN NULL ELSE tasks.longitude END, " +
        "geocoding_attempts = CASE WHEN tasks.address IS DISTINCT FROM EXCLUDED.address " +
        "THEN 0 ELSE tasks.geocoding_attempts END, " +
        "geocoding_error = CASE WHEN tasks.address IS DISTINCT FROM EXCLUDED.address " +
        "THEN NULL ELSE tasks.geocoding_error END, " +
        "updated_at = CURRENT_TIMESTAMP")
    assert(params == MergeSpecs.tasks.insertCols)
  }

  test("K1/K4: insert-if-absent — ON CONFLICT DO NOTHING") {
    val SingleStatementMerge(sql, params) =
      PostgresDialect.insertIgnorePlan("task_types", Seq("type_name"),
        Seq("type_name")): @unchecked
    assert(sql ==
      "INSERT INTO task_types (type_name) VALUES (?) " +
        "ON CONFLICT (type_name) DO NOTHING")
    assert(params == Seq("type_name"))
  }

  test("K5: bridge rewrite — DELETE by group key then plain INSERT") {
    assert(PostgresDialect.deleteGroupsSql("task_executors", "task_id") ==
      "DELETE FROM task_executors WHERE task_id IN (?)")
    assert(PostgresDialect.insertSql("task_executors", Seq("task_id", "executor_id")) ==
      "INSERT INTO task_executors (task_id, executor_id) VALUES (?, ?)")
  }

  test("K5: stored-group read — one IN-list SELECT, no isolation clause") {
    assert(PostgresDialect.readGroupsSql("task_executors", "task_id", "executor_id", 3) ==
      "SELECT task_id, executor_id FROM task_executors WHERE task_id IN (?, ?, ?)")
  }

  test("K6: watermark upsert — single-row ON CONFLICT DO UPDATE") {
    val SingleStatementMerge(sql, params) =
      PostgresDialect.mergePlan(MergeSpecs.scraperStatus): @unchecked
    assert(sql ==
      "INSERT INTO scraper_status (id, last_processed_date) VALUES (?, ?) " +
        "ON CONFLICT (id) DO UPDATE SET " +
        "last_processed_date = EXCLUDED.last_processed_date, " +
        "updated_at = CURRENT_TIMESTAMP")
    assert(params == Seq("id", "last_processed_date"))
  }
}
