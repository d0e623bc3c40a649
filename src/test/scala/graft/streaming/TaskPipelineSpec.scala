package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sinks.{DerbyDialect, DerbyStore, JdbcMergeWriter, MergeSpecs, TestConnections}

/** The task pipeline batch end to end against Derby: dimension
  * get-or-create (K4), the task MERGE with geocoding preservation (K3)
  * and the bridge rewrite, all fused into one sink pass (K5/J1), in K7
  * order (task.go:47-151).
  */
class TaskPipelineSpec extends SparkSpec {
  import RawBatches.task

  private lazy val store = DerbyStore.create("taskpipedb")

  /** An empty store with employees ann, bob and two sharing "cat". */
  private def fresh(): Unit = {
    store.clear()
    store.exec("INSERT INTO employees (id, fullname, shortname) VALUES " +
      "(1, 'Ann', 'ann'), (2, 'Bob', 'bob'), (3, 'Cat A', 'cat'), (4, 'Cat B', 'cat')")
  }

  private def run(batch: DataFrame, loadDim: () => DataFrame = store.loadDim(spark)): Unit =
    Pipelines.taskBatch(batch, DerbyDialect, store.cf, loadDim, store.loadEmployees(spark))

  private def runTasks(rows: org.apache.spark.sql.Row*): Unit =
    run(RawBatches.tasks(spark, rows: _*))

  /** Runs `batch` and returns the bridge statements it ran:
    * (DELETEs, INSERTs) against task_executors.
    */
  private def bridgeWrites(batch: DataFrame): (Int, Int) = {
    TestConnections.statements.clear()
    Pipelines.taskBatch(batch, DerbyDialect, TestConnections.countingStatements(store.cf),
      store.loadDim(spark), store.loadEmployees(spark))
    (TestConnections.ran("DELETE FROM task_executors"),
      TestConnections.ran("INSERT INTO task_executors"))
  }

  private def tasks(rows: org.apache.spark.sql.Row*): DataFrame = RawBatches.tasks(spark, rows: _*)

  /** (task_id, executor_id) bridge rows, NULL as None, sorted. */
  private def bridge(): Seq[(Long, Option[Long])] =
    store.rows("SELECT task_id, executor_id FROM task_executors")
      .map(r => (r(0).toString.toLong, Option(r(1)).map(_.toString.toLong)))
      .sortBy { case (t, e) => (t, e.getOrElse(-1L)) }

  private def types(): Seq[(Int, Any)] =
    store.rows("SELECT type_id, type_name FROM task_types ORDER BY type_id")
      .map(r => (r(0).toString.toInt, r(1)))

  /** Runs `body` with AQE partition coalescing off: the dedup shuffle
    * then keeps spark.sql.shuffle.partitions partitions however small
    * the batch.
    */
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, saved)
  }

  /** The partitions the sink writes a distributed task batch from: the
    * projected tasks after the A4 dedup's shuffle.
    */
  private def written(batch: DataFrame): DataFrame =
    JdbcMergeWriter.lastPerKey(Pipelines.transformTasks(batch), MergeSpecs.tasks.keyCols)

  private def typeOf: Map[Long, String] =
    store.rows("""SELECT t.task_id, tt.type_name FROM tasks t
        LEFT JOIN task_types tt ON t.task_type_id = tt.type_id""")
      .map(r => r(0).toString.toLong -> r(1).asInstanceOf[String]).toMap

  test("task types: a new type is created, an existing one reused (K4)") {
    fresh()
    store.exec("INSERT INTO task_types (type_name) VALUES ('repair')")
    runTasks(task(1, "repair", "1 Main St", Seq("ann")),
      task(2, "install", "2 Oak Ave", Seq("bob")),
      task(3, "install", "3 Elm St", Seq("bob")))
    assert(types() == Seq((1, "repair"), (2, "install")), "one new row, the old id kept")
    assert(typeOf == Map(1L -> "repair", 2L -> "install", 3L -> "install"))
  }

  test("task types: a name the snapshot lacks but the store has keeps its stored id (K4)") {
    fresh()
    store.exec("INSERT INTO task_types (type_name) VALUES ('repair')")
    // the snapshot was read before 'repair' was created by another writer
    val stale = () => store.loadDim(spark)().where("type_name <> 'repair'")
    run(RawBatches.tasks(spark, task(1, "repair", "1 Main St", Seq("ann")),
      task(2, "repair", "2 Oak Ave", Seq("bob"))), stale)
    assert(types() == Seq((1, "repair")), "no second row")
    assert(typeOf == Map(1L -> "repair", 2L -> "repair"))
  }

  test("task types: new names met by every partition at once get one row each (K4)") {
    fresh()
    val batch = RawBatches.onDisk(RawBatches.tasks(spark, (1L to 400L).map(i =>
      task(i, if (i % 2 == 0) "alpha" else "beta", s"$i Main St", Seq("ann"))): _*))
    TestConnections.rollbacks.set(0)
    uncoalesced {
      val names = written(batch).rdd
        .mapPartitions(it => Iterator(it.map(_.getAs[String]("type_name")).toSet))
        .collect().filter(_.nonEmpty)
      assert(names.length >= 4 && names.forall(_ == Set("alpha", "beta")),
        s"expected both names in each of at least 4 partitions: ${names.toSeq}")
      Pipelines.taskBatch(batch, DerbyDialect, TestConnections.countingRollbacks(store.cf),
        store.loadDim(spark), store.loadEmployees(spark))
    }
    assert(types().map(_._2).sortBy(_.toString) == Seq("alpha", "beta"), "one row per name")
    assert(typeOf == (1L to 400L).map(i => i -> (if (i % 2 == 0) "alpha" else "beta")).toMap,
      "every task carries its name's row id")
    assert(TestConnections.rollbacks.get == 0, "no partition's transaction rolled back")
  }

  test("task types: a NULL name writes a NULL type id and no dimension row (K4)") {
    fresh()
    runTasks(task(1, null, "1 Main St", Seq("ann")))
    assert(types().isEmpty)
    assert(store.rows("SELECT task_id, task_type_id FROM tasks") == Vector(Vector(1L, null)))
  }

  test("geocoding is kept while the address is unchanged and reset when it changes (K3)") {
    fresh()
    runTasks(task(10, "repair", "1 Main St", Seq("ann")),
      task(11, "repair", "2 Oak Ave", Seq("ann")))
    store.exec("UPDATE tasks SET latitude = 50.5, longitude = 30.5, " +
      "geocoding_attempts = 2, geocoding_error = 'timeout'")
    runTasks(task(10, "repair", "1 Main St", Seq("ann"), closed = true),
      task(11, "repair", "9 New Rd", Seq("ann")))
    val geo = store.rows("""SELECT task_id, latitude, longitude, geocoding_attempts,
        geocoding_error, is_closed FROM tasks ORDER BY task_id""")
      .map(_.map(v => Option(v).map(_.toString)))
    assert(geo(0) == Vector(Some("10"), Some("50.5"), Some("30.5"), Some("2"),
      Some("timeout"), Some("true")), "same address: geocoding kept, other columns updated")
    assert(geo(1) == Vector(Some("11"), None, None, Some("0"), None, Some("false")),
      "new address: geocoding reset")
  }

  test("executors resolve with the LEFT join's multiplicity; an empty array writes no rows (J1)") {
    fresh()
    store.exec("INSERT INTO task_executors VALUES (22, 1), (23, 2)")
    runTasks(task(20, "repair", "a", Seq("ann", "zed")), // zed: unknown
      task(21, "repair", "b", Seq("cat")),                // shared shortname
      task(22, "repair", "c", Seq.empty),
      task(23, "repair", "d", null))
    assert(bridge() == Seq((20L, None), (20L, Some(1L)), (21L, Some(3L)), (21L, Some(4L))),
      "unknown name: one NULL row; shared name: one row each; empty or NULL array: " +
        "old rows deleted, none written")
  }

  test("a task whose executors shrink loses its stale rows; other tasks keep theirs (K5)") {
    fresh()
    runTasks(task(30, "repair", "a", Seq("ann", "bob", "cat")),
      task(31, "repair", "b", Seq("bob")))
    assert(bridge().count(_._1 == 30L) == 4)
    runTasks(task(30, "repair", "a", Seq("bob")))
    assert(bridge() == Seq((30L, Some(2L)), (31L, Some(2L))))
    runTasks(task(30, "repair", "a", Seq.empty))
    assert(bridge() == Seq((31L, Some(2L))))
  }

  test("a reordered group is not written and the store is unchanged (K5)") {
    fresh()
    runTasks(task(60, "repair", "a", Seq("ann", "bob", "cat")))
    val before = bridge()
    assert(bridgeWrites(tasks(task(60, "repair", "a", Seq("cat", "bob", "ann")))) == ((0, 0)),
      "same members in another order: no DELETE, no INSERT")
    assert(bridge() == before)
  }

  test("a shrinking and an emptied group lose their stale rows in one batch (K5)") {
    fresh()
    runTasks(task(61, "repair", "a", Seq("ann", "bob", "cat")),
      task(62, "repair", "b", Seq("ann", "bob")),
      task(63, "repair", "c", Seq("bob")))
    assert(bridgeWrites(tasks(task(61, "repair", "a", Seq("bob")),
      task(62, "repair", "b", Seq.empty),
      task(63, "repair", "c", Seq("bob")))) == ((2, 1)),
      "two groups deleted, one member re-inserted, the unchanged group not written")
    assert(bridge() == Seq((61L, Some(2L)), (63L, Some(2L))))
  }

  test("an unknown executor's NULL row becomes the id of the employee hired under the name (J1)") {
    fresh()
    val t = task(64, "repair", "a", Seq("ann", "dan"))
    runTasks(t)
    assert(bridge() == Seq((64L, None), (64L, Some(1L))))
    store.exec("INSERT INTO employees (id, fullname, shortname) VALUES (5, 'Dan', 'dan')")
    assert(bridgeWrites(tasks(t)) == ((1, 2)), "the same batch, resolved anew: rewritten")
    assert(bridge() == Seq((64L, Some(1L)), (64L, Some(5L))))
  }

  test("a repeated executor counts: [ann, ann] then [ann] rewrites the group (K5)") {
    fresh()
    runTasks(task(65, "repair", "a", Seq("ann", "ann")))
    assert(bridge() == Seq((65L, Some(1L)), (65L, Some(1L))))
    assert(bridgeWrites(tasks(task(65, "repair", "a", Seq("ann")))) == ((1, 1)),
      "the same set of members, but not the same multiset")
    assert(bridge() == Seq((65L, Some(1L))))
  }

  test("bridge writes: none on an identical replay, one group's for one changed task") {
    val first = tasks(task(66, "repair", "a", Seq("ann", "zed")),
      task(67, "repair", "b", Seq("cat")), task(68, "repair", "c", Seq.empty))
    val changed = tasks(task(66, "repair", "a", Seq("ann", "zed")),
      task(67, "repair", "b", Seq("cat", "bob")), task(68, "repair", "c", Seq.empty))
    Seq[(String, DataFrame => DataFrame)]("local" -> identity, "on disk" -> RawBatches.onDisk)
      .foreach { case (shape, as) =>
        fresh()
        assert(bridgeWrites(as(first)) == ((0, 4)),
          s"$shape: new groups are inserted with no DELETE")
        assert(bridgeWrites(as(first)) == ((0, 0)), s"$shape: an identical replay writes nothing")
        assert(bridgeWrites(as(changed)) == ((1, 3)), s"$shape: only task 67's group is rewritten")
        assert(bridge() == Seq((66L, None), (66L, Some(1L)),
          (67L, Some(2L)), (67L, Some(3L)), (67L, Some(4L))), shape)
      }
  }

  /** The SQL of each stored-group read run since the last clear. */
  private def groupReads(): Seq[String] =
    TestConnections.statements.asScala.toSeq
      .filter(_.startsWith("SELECT task_id, executor_id FROM task_executors"))

  /** Group reads a writer of `rows` fact rows runs: one per 128 keys
    * of each 500-row chunk.
    */
  private def readsFor(rows: Int): Int =
    (0 until rows by 500).map(o => (math.min(500, rows - o) + 127) / 128).sum

  test("the group read runs one statement text, once per 128 keys of each chunk (K5)") {
    assert(readsFor(600) == 5, "chunks of 500 and 100")
    val texts = mutable.Set.empty[String]
    for {
      n <- Seq(1, 60, 128, 129, 600)
      (shape, as) <- Seq[(String, DataFrame => DataFrame)](
        "local" -> identity, "on disk" -> RawBatches.onDisk)
    } {
      fresh()
      val batch = as(tasks((1L to n.toLong).map(i =>
        task(i, "repair", s"$i Main St", if (i % 2 == 0) Seq("ann", "zed") else Seq("cat"))): _*))
      // the partitions the executors write, or the one local pass
      val sizes = if (shape == "local") Seq(n)
        else written(batch).rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
      assert(bridgeWrites(batch) == ((0, n * 2)), s"$shape, $n: every group inserted")
      assert(groupReads().size == sizes.map(readsFor).sum, s"$shape, $n: reads of the first write")
      texts ++= groupReads()
      assert(bridgeWrites(batch) == ((0, 0)), s"$shape, $n: an identical replay writes nothing")
      assert(groupReads().size == sizes.map(readsFor).sum, s"$shape, $n: reads of the replay")
      texts ++= groupReads()
    }
    assert(texts.size == 1, s"one SQL text for every batch size: $texts")
  }

  test("a change alone in the last, padded read slice rewrites only its group (K5)") {
    // 128 tasks fill the first slice; task 129 is read alone, its key
    // repeated to the read's width. Groups with repeated and NULL members.
    def batch(last: Seq[String]) = tasks((1L to 129L).map(i => task(i, "repair", s"$i Main St",
      if (i == 129L) last else if (i == 1L) Seq("ann", "ann", "zed") else Seq("bob"))): _*)
    fresh()
    val changed = batch(Seq("cat", "zed", "zed"))
    run(changed)
    val full = bridge()
    fresh()
    run(batch(Seq("ann", "ann", "zed")))
    assert(bridgeWrites(changed) == ((1, 4)),
      "task 129's group deleted and its four members inserted; task 1's untouched")
    assert(bridge() == full, "the same multisets as a full rewrite")
    assert(full.filter(_._1 == 1L) == Seq((1L, None), (1L, Some(1L)), (1L, Some(1L))))
    assert(full.filter(_._1 == 129L) ==
      Seq((129L, None), (129L, None), (129L, Some(3L)), (129L, Some(4L))))
  }

  test("duplicate task ids in one batch write one task and one bridge group (A4)") {
    fresh()
    val t = task(40, "repair", "a", Seq("ann", "bob"))
    runTasks(t, t, task(41, "repair", "b", Seq("ann")), t)
    assert(store.rows("SELECT task_id FROM tasks ORDER BY task_id").map(_.head.toString) ==
      Seq("40", "41"))
    assert(bridge() == Seq((40L, Some(1L)), (40L, Some(2L)), (41L, Some(1L))))
  }

  test("an identical replay leaves every row as it was") {
    fresh()
    val rows = Seq(task(50, "repair", "a", Seq("ann", "zed")),
      task(51, "install", "b", Seq("cat")), task(52, "repair", "c", Seq.empty))
    val employees = RawBatches.employees(spark,
      RawBatches.employee(1, "ann", "ann@example.com"),
      RawBatches.employee(2, "bob", "bob@example.com"))
    def snapshot() = (
      store.rows("""SELECT task_id, task_type_id, creation_date, closing_date, description,
          address, customer_name, customer_login, comments, is_closed, latitude, longitude,
          geocoding_attempts, geocoding_error FROM tasks ORDER BY task_id"""),
      store.rows("SELECT type_id, type_name FROM task_types ORDER BY type_id"),
      bridge(),
      store.rows("SELECT id, fullname, shortname, position, email, phone, updated_at " +
        "FROM employees ORDER BY id"))
    def cycle(): Unit = {
      Pipelines.employeeBatch(employees, DerbyDialect, store.cf)
      runTasks(rows: _*)
    }
    cycle()
    val before = snapshot()
    Thread.sleep(50)
    cycle()
    // employees' updated_at holds (skip-if-identical); the task MERGE
    // re-stamps tasks.updated_at on every applied row, as the
    // reference's unconditional ON CONFLICT DO UPDATE does (task.go:81-113)
    assert(snapshot() == before)
  }

  test("a batch past BatchSize over several partitions keeps the per-chunk order") {
    fresh()
    // stale rows for every task, plus a group no incoming task owns
    store.exec("INSERT INTO task_executors VALUES (999999, 1)")
    val ids = 1L to 2400L
    runTasks(ids.map(i => task(i, s"type-${i % 3}", s"$i Main St", Seq("zed"))): _*)
    // uncoalesced, each partition holds more than one 500-row chunk
    uncoalesced {
      val batch = RawBatches.onDisk(RawBatches.tasks(spark,
        ids.map(i => task(i, s"type-${i % 3}", s"$i Main St", Seq("ann", "cat"))): _*))
      val sizes = written(batch).rdd.mapPartitions(it => Iterator(it.size))
        .collect().filter(_ > 0)
      assert(sizes.length >= 2 && sizes.count(_ > 500) >= 2,
        s"expected at least two partitions past one chunk: ${sizes.toSeq}")
      run(batch)
    }
    assert(store.rows("SELECT count(*) FROM tasks").head.head.toString == "2400")
    val perTask = store.rows(
      "SELECT task_id, count(*), min(executor_id), max(executor_id) FROM task_executors " +
        "GROUP BY task_id").map(r => r.map(_.toString))
    assert(perTask.size == 2401)
    assert(perTask.filterNot(_.head == "999999").forall(_.tail == Vector("3", "1", "4")),
      "every task's group rewritten whole: ann and both cats, the stale NULL row gone")
    assert(perTask.contains(Vector("999999", "1", "1", "1")), "untouched group intact")
  }
}
