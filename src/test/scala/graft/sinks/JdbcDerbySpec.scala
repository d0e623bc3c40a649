package graft.sinks

import java.sql.{DriverManager, SQLException, Timestamp}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.{Pipelines, RawBatches}

/** Integration test of the MERGE sink against a real JDBC store
  * (in-memory Derby, same JVM as local-mode executors) — the analogue
  * of the reference's testcontainers suite (database_test.go:15-68)
  * and its repository behavior matrix (employee/task_test.go).
  */
class JdbcDerbySpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private def conn() = DriverManager.getConnection(url)
  private val cf: JdbcMergeWriter.ConnFactory = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  private def exec(sql: String): Unit = {
    val c = conn()
    try { val st = c.createStatement(); st.execute(sql); st.close() }
    finally c.close()
  }

  private def query1[T](sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val c = conn()
    try {
      val rs = c.createStatement().executeQuery(sql)
      val buf = scala.collection.mutable.ArrayBuffer.empty[T]
      while (rs.next()) buf += f(rs)
      buf.toSeq
    } finally c.close()
  }

  private lazy val init: Unit = {
    exec("""CREATE TABLE employees (
      id BIGINT PRIMARY KEY, fullname VARCHAR(200), shortname VARCHAR(50),
      position VARCHAR(100), email VARCHAR(200), phone VARCHAR(50),
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    exec("""CREATE TABLE tasks (
      task_id BIGINT PRIMARY KEY, task_type_id INT, address VARCHAR(200),
      latitude DOUBLE, geocoding_attempts INT, geocoding_error VARCHAR(200),
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    exec("""CREATE TABLE task_types (
      type_id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      type_name VARCHAR(100) UNIQUE)""")
    exec("CREATE TABLE task_executors (task_id BIGINT, executor_id BIGINT)")
    // concurrent partitions' bridge DELETEs need it (see DerbyStore)
    exec("CREATE INDEX task_executors_task ON task_executors (task_id)")
  }

  // reduced employees spec (same as production MergeSpecs.employees)
  private val empSpec = MergeSpecs.employees

  // reduced tasks spec: Derby has no arrays, so comments is omitted —
  // the geo-CASE legs under test are identical to MergeSpecs.tasks
  private val taskSpec = MergeSpec(
    table = "tasks", keyCols = Seq("task_id"),
    insertCols = Seq("task_id", "address"),
    updateCols = Seq("address"),
    touchCol = Some("updated_at"),
    preserves = Seq(
      Preserve("latitude", "address", "NULL"),
      Preserve("geocoding_attempts", "address", "0"),
      Preserve("geocoding_error", "address", "NULL")))

  private def employeeDf(rows: (Long, String, String)*) =
    rows.toSeq.map { case (id, name, email) =>
      (id, name, s"SN$id", "pos", email, "0961234567")
    }.toDF("id", "fullname", "shortname", "position", "email", "phone")

  test("employee MERGE: insert, then skip-if-identical leaves updated_at untouched") {
    init
    JdbcMergeWriter.upsert(
      employeeDf((1L, "Alice", "a@example.com"), (2L, "Bob", "b@example.com")),
      empSpec, DerbyDialect, cf)
    val ts1 = query1("SELECT id, updated_at FROM employees ORDER BY id")(r =>
      (r.getLong(1), r.getTimestamp(2)))
    assert(ts1.map(_._1) == Seq(1L, 2L))

    Thread.sleep(50)
    // identical replay → MERGE matched-but-identical → no update applied
    JdbcMergeWriter.upsert(
      employeeDf((1L, "Alice", "a@example.com"), (2L, "Bob", "b@example.com")),
      empSpec, DerbyDialect, cf)
    val ts2 = query1("SELECT id, updated_at FROM employees ORDER BY id")(r =>
      (r.getLong(1), r.getTimestamp(2)))
    assert(ts2 == ts1, "identical rows must not be rewritten (skip-if-identical)")

    // changed row → updated, updated_at advances
    JdbcMergeWriter.upsert(
      employeeDf((2L, "Bobby", "b@example.com")), empSpec, DerbyDialect, cf)
    val name = query1("SELECT fullname FROM employees WHERE id = 2")(_.getString(1))
    assert(name == Seq("Bobby"))
    val ts3 = query1("SELECT updated_at FROM employees WHERE id = 2")(_.getTimestamp(1))
    assert(ts3.head.after(ts1(1)._2))
  }

  test("task MERGE: geo columns preserved iff address unchanged (K3 CASE)") {
    init
    exec("INSERT INTO tasks (task_id, address, latitude, geocoding_attempts, geocoding_error) " +
      "VALUES (10, 'Main St', 51.5, 3, NULL), (11, 'Old Rd', 40.7, 2, 'failed')")
    val batch = Seq((10L, "Main St"), (11L, "New Rd")).toDF("task_id", "address")
    JdbcMergeWriter.upsert(batch, taskSpec, DerbyDialect, cf)
    val rows = query1(
      "SELECT task_id, address, latitude, geocoding_attempts, geocoding_error " +
        "FROM tasks ORDER BY task_id") { r =>
      (r.getLong(1), r.getString(2),
        Option(r.getObject(3)).map(_.asInstanceOf[Double]),
        r.getInt(4), Option(r.getString(5)))
    }
    assert(rows(0) == ((10L, "Main St", Some(51.5), 3, None)),
      "unchanged address keeps lat/attempts")
    assert(rows(1) == ((11L, "New Rd", None, 0, None)),
      "changed address NULLs lat + error, zeroes attempts")
  }

  // the reduced task MERGE plus the type id the fused writer binds
  private val factSpec = taskSpec.copy(
    insertCols = taskSpec.insertCols :+ "task_type_id",
    updateCols = taskSpec.updateCols :+ "task_type_id")

  /** The reduced task MERGE fused with the task_types lookup (`known`
    * is the snapshot) and the task_executors rewrite; each incoming
    * row's `type_name` is resolved and its `members` replace its
    * task's group.
    */
  private def upsertWithBridge(rows: DataFrame, known: Map[String, Any] = Map.empty,
      via: JdbcMergeWriter.ConnFactory = cf): Unit =
    JdbcMergeWriter.upsertWithBridge(rows, factSpec,
      JdbcMergeWriter.DimensionSpec("task_types", "type_id", "type_name", "task_type_id",
        known.get),
      JdbcMergeWriter.BridgeSpec("task_executors", "task_id", "executor_id",
        r => r.getAs[scala.collection.Seq[Any]]("members")),
      DerbyDialect, via)

  private def typeIds(): Map[String, Int] =
    query1("SELECT type_name, type_id FROM task_types")(r => r.getString(1) -> r.getInt(2)).toMap

  /** task_id → the name of its task_types row (NULL id: None). */
  private def taskTypes(): Map[Long, Option[String]] =
    query1("""SELECT t.task_id, tt.type_name FROM tasks t
        LEFT JOIN task_types tt ON t.task_type_id = tt.type_id""")(
      r => r.getLong(1) -> Option(r.getString(2))).toMap

  test("dimension get-or-create is race-safe and idempotent (K4)") {
    init
    Seq("tasks", "task_executors", "task_types").foreach(t => exec(s"DELETE FROM $t"))
    exec("INSERT INTO task_types (type_name) VALUES ('TypeA')")
    val typeA = typeIds()("TypeA")
    def tasks(rows: (Long, String)*): DataFrame =
      rows.map { case (id, tpe) => (id, s"addr $id", tpe, Seq.empty[Long]) }
        .toDF("task_id", "address", "type_name", "members").repartition(2)
    upsertWithBridge(tasks(1L -> "TypeA", 2L -> "TypeB", 3L -> "TypeB", 4L -> null),
      known = typeIds())
    // TypeB is in the store but not in this stale snapshot
    upsertWithBridge(tasks(5L -> "TypeB", 6L -> "TypeC", 7L -> "TypeA"),
      known = Map("TypeA" -> typeA))
    val names = query1("SELECT type_name FROM task_types ORDER BY type_name")(_.getString(1))
    assert(names == Seq("TypeA", "TypeB", "TypeC"), "one row per name")
    val ids = typeIds()
    assert(ids("TypeA") == typeA, "an existing name keeps its id")
    assert(ids.values.toSet.size == 3) // store-assigned, unique
    assert(taskTypes() == Map(1L -> Some("TypeA"), 2L -> Some("TypeB"), 3L -> Some("TypeB"),
      4L -> None, 5L -> Some("TypeB"), 6L -> Some("TypeC"), 7L -> Some("TypeA")),
      "every task bound to its name's row; a NULL name binds a NULL id")
  }

  test("upsertWithBridge: a dimension INSERT that loses a race reads the winner's id (K4)") {
    init
    Seq("tasks", "task_executors", "task_types").foreach(t => exec(s"DELETE FROM $t"))
    val incoming = Seq((1L, "a", "TypeR", Seq.empty[Long]), (2L, "b", "TypeR", Seq.empty[Long]))
      .toDF("task_id", "address", "type_name", "members").coalesce(1)
    upsertWithBridge(incoming, via = TestConnections.losingInsertRace(cf, "task_types"))
    assert(query1("SELECT type_name FROM task_types")(_.getString(1)) == Seq("TypeR"),
      "the concurrent writer's row, and no other")
    assert(taskTypes() == Map(1L -> Some("TypeR"), 2L -> Some("TypeR")))
  }

  test("a failed rollback does not hide the error that caused it") {
    val conn = TestConnections.lost()
    val e = intercept[SQLException] {
      JdbcMergeWriter.inTxn(conn) { conn.createStatement().execute("SELECT 1") }
    }
    assert(e.getMessage == "connection reset", "the statement's error is rethrown")
    assert(e.getSuppressed.map(_.getMessage).toSeq ==
      Seq("rollback on a closed connection", "close on a closed connection"),
      "the cleanup failures ride along as suppressed")
  }

  private def bridgeRows(): Seq[(Long, Option[Long])] =
    query1("SELECT task_id, executor_id FROM task_executors")(
      r => (r.getLong(1), Option(r.getObject(2)).map(_.toString.toLong)))
      .sortBy { case (t, e) => (t, e.getOrElse(-1L)) }

  test("upsertWithBridge: fact MERGE plus delete-then-insert per task, NULL ids kept (K5/J1)") {
    init
    exec("DELETE FROM tasks")
    exec("DELETE FROM task_executors")
    exec("INSERT INTO task_executors VALUES (100, 1), (100, 2), (101, 5), (200, 3)")
    val incoming = Seq(
      (100L, "Main St", "TypeA", Seq(Some(9L), None)), // None = unmatched shortname → NULL
      (101L, "Oak Ave", "TypeA", Seq.empty[Option[Long]])
    ).toDF("task_id", "address", "type_name", "members")
    upsertWithBridge(incoming)
    assert(query1("SELECT task_id, address FROM tasks ORDER BY task_id")(
      r => (r.getLong(1), r.getString(2))) == Seq((100L, "Main St"), (101L, "Oak Ave")))
    assert(bridgeRows() == Seq((100L, None), (100L, Some(9L)), (200L, Some(3L))),
      "100 rewritten with its NULL member, 101 emptied, untouched 200 intact")
  }

  test("upsertWithBridge: an Int member equals its stored BIGINT, so a replay writes no bridge row") {
    init
    exec("DELETE FROM tasks")
    exec("DELETE FROM task_executors")
    val incoming = Seq((110L, "Elm St", "TypeA", Seq(Some(7), None)))
      .toDF("task_id", "address", "type_name", "members")
    upsertWithBridge(incoming)
    TestConnections.statements.clear()
    upsertWithBridge(incoming, via = TestConnections.countingStatements(cf))
    assert(TestConnections.ran("SELECT task_id, executor_id FROM task_executors") == 1)
    assert(TestConnections.ran("DELETE") + TestConnections.ran("INSERT INTO task_executors") == 0)
    assert(bridgeRows() == Seq((110L, None), (110L, Some(7L))))
  }

  test("Derby's group read runs uncommitted and never waits on another writer's rows") {
    init
    // no index: the read is a heap scan over every row, as in a store
    // without an index on the group key
    exec("CREATE TABLE groups_unindexed (g BIGINT, v BIGINT)")
    exec("INSERT INTO groups_unindexed VALUES (1, 10), (1, NULL), (1, 10), (2, 20)")
    val sql = DerbyDialect.readGroupsSql("groups_unindexed", "g", "v", 2)
    assert(sql == "SELECT g, v FROM groups_unindexed WHERE g IN (?, ?) WITH UR")
    val writer = conn()
    writer.setAutoCommit(false)
    writer.createStatement().execute("INSERT INTO groups_unindexed VALUES (3, 30)")
    def read(sql: String): Future[Seq[(Long, Option[Long])]] = Future {
      val c = conn()
      try {
        c.setAutoCommit(false)
        val ps = c.prepareStatement(sql)
        ps.setLong(1, 1L)
        ps.setLong(2, 2L)
        val rs = ps.executeQuery()
        val out = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), Option(r.getObject(2)).map(_.toString.toLong))).toVector
        c.commit()
        out.sortBy { case (g, v) => (g, v.getOrElse(-1L)) }
      } finally c.close()
    }(ExecutionContext.global)
    try {
      assert(Await.result(read(sql), 30.seconds) ==
        Seq((1L, None), (1L, Some(10L)), (1L, Some(10L)), (2L, Some(20L))),
        "every stored row of the two groups, repeats and NULLs included")
      val plain = read(sql.stripSuffix(" WITH UR"))
      Thread.sleep(1000)
      assert(!plain.isCompleted, "a READ COMMITTED scan waits on the uncommitted row")
      writer.rollback()
      Await.ready(plain, 30.seconds)
    } finally { writer.rollback(); writer.close(); exec("DROP TABLE groups_unindexed") }
  }

  test("MERGE null transitions: NULL→value and value→NULL update, NULL=NULL skips") {
    init
    // the compact NOT(a = ? OR both-null) guard evaluates to UNKNOWN
    // when exactly one side is NULL — these transitions were silently
    // dropped before the three-bind expansion
    JdbcMergeWriter.upsert(
      employeeDf((60L, "Nully", null)), empSpec, DerbyDialect, cf)
    val e0 = query1("SELECT email FROM employees WHERE id = 60")(_.getString(1))
    assert(e0 == Seq(null))

    // NULL → value must apply the update
    JdbcMergeWriter.upsert(
      employeeDf((60L, "Nully", "n@example.com")), empSpec, DerbyDialect, cf)
    val e1 = query1("SELECT email FROM employees WHERE id = 60")(_.getString(1))
    assert(e1 == Seq("n@example.com"), "NULL→value transition must not be skipped")

    // value → NULL must apply the update
    JdbcMergeWriter.upsert(
      employeeDf((60L, "Nully", null)), empSpec, DerbyDialect, cf)
    val e2 = query1("SELECT email FROM employees WHERE id = 60")(_.getString(1))
    assert(e2 == Seq(null), "value→NULL transition must not be skipped")

    // NULL = NULL replay is identical → skip guard holds, updated_at frozen
    val ts1 = query1("SELECT updated_at FROM employees WHERE id = 60")(_.getTimestamp(1))
    Thread.sleep(50)
    JdbcMergeWriter.upsert(
      employeeDf((60L, "Nully", null)), empSpec, DerbyDialect, cf)
    val ts2 = query1("SELECT updated_at FROM employees WHERE id = 60")(_.getTimestamp(1))
    assert(ts2 == ts1, "identical all-NULL replay must skip")
  }

  test("task MERGE: address NULL transitions flip the preserve CASE") {
    init
    exec("DELETE FROM tasks")
    exec("INSERT INTO tasks (task_id, address, latitude, geocoding_attempts, geocoding_error) " +
      "VALUES (20, NULL, 12.5, 1, NULL), (21, 'Has Addr', 33.3, 2, 'e')")
    // NULL → value and value → NULL are both "address changed" → geo reset
    val batch = Seq(
      (20L, Some("Now Set")), (21L, Option.empty[String])).toDF("task_id", "address")
    JdbcMergeWriter.upsert(batch, taskSpec, DerbyDialect, cf)
    val rows = query1(
      "SELECT task_id, latitude, geocoding_attempts FROM tasks ORDER BY task_id") { r =>
      (r.getLong(1), Option(r.getObject(2)).map(_.asInstanceOf[Double]), r.getInt(3))
    }
    assert(rows(0) == ((20L, None, 0)), "NULL→value address change must reset geo")
    assert(rows(1) == ((21L, None, 0)), "value→NULL address change must reset geo")
  }

  test("upsertWithBridge streams partitions and groups past the batch size") {
    init
    exec("DELETE FROM tasks")
    exec("DELETE FROM task_executors")
    exec("INSERT INTO task_executors VALUES (300, 1), (301, 1), (9999, 7)")
    // 1200 tasks over 2 partitions (more than one 500-row chunk each),
    // one of them owning 600 members (more than one INSERT batch)
    val incoming = (0 until 1200).map { i =>
      val id = 300L + i
      (id, s"addr $i", s"Type${i % 3}",
        if (i == 0) (0L until 600L).map(Option(_)) else Seq(Some(id), None))
    }.toDF("task_id", "address", "type_name", "members").repartition(2)
    upsertWithBridge(incoming)
    assert(query1("SELECT count(*) FROM tasks")(_.getLong(1)) == Seq(1200L))
    val counts = query1(
      "SELECT task_id, count(*), count(executor_id) FROM task_executors GROUP BY task_id")(
      r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(counts.size == 1201)
    assert(counts(300L) == ((600L, 600L)), "the 600-member group fully rewritten")
    assert((301L until 1500L).forall(t => counts(t) == ((2L, 1L))),
      "every other group rewritten to its id and one NULL")
    assert(counts(9999L) == ((1L, 1L)), "untouched group intact")
  }

  test("employee pipeline batch end-to-end: transform + repair + MERGE") {
    init
    exec("DELETE FROM employees")
    val raw = spark.createDataFrame(
      java.util.List.of(
        Row(7L, "Valid Mail", "VM", "qa", "v@example.com", "0961234567"),
        Row(8L, "Broken Mail", "BM", "qa", "12345", ""),
        Row(8L, "Broken Mail", "BM", "qa", "12345", "")), // dup row in batch (A4)
      StructType(graft.models.Schemas.employee.fields.map(_.copy(nullable = true))))
    Pipelines.employeeBatch(raw, DerbyDialect, cf)
    val rows = query1("SELECT id, email FROM employees ORDER BY id")(r =>
      (r.getLong(1), r.getString(2)))
    assert(rows.map(_._1) == Seq(7L, 8L))
    assert(rows(0)._2 == "v@example.com")
    assert(rows(1)._2.endsWith("@placeholder.local"), "invalid email repaired")
  }

  test("A4: a repeated id keeps its last delivered row, local or distributed") {
    init
    val raw = RawBatches.employees(spark,
      RawBatches.employee(9L, "x", "first@example.com"),
      RawBatches.employee(10L, "y", "y@example.com"),
      RawBatches.employee(9L, "x", "last@example.com"))
    Seq("local" -> raw, "on disk" -> RawBatches.onDisk(raw)).foreach { case (shape, batch) =>
      exec("DELETE FROM employees")
      Pipelines.employeeBatch(batch, DerbyDialect, cf)
      assert(query1("SELECT id, email FROM employees ORDER BY id")(r =>
        (r.getLong(1), r.getString(2))) == Seq((9L, "last@example.com"), (10L, "y@example.com")),
        s"$shape: the reference applies rows in order, so the last one wins")
    }
  }
}
