package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, rand}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.sinks.{DerbyDialect, DerbyStore, JdbcMergeWriter, MergeSpecs}
import graft.sinks.JdbcMergeWriter.Tally
import graft.sources.LocalRows

/** The sink's two paths write the same thing. A batch handed over as a
  * local frame is written on the driver, from rows `LocalRows`
  * evaluates through a transform bound once per batch schema and
  * session configuration; the same batch read back from parquet is
  * written on the executors, through `foreachPartition`. Both must
  * leave equal stores and return equal tallies, for generated employee
  * and task batches, in the session time zone and ANSI mode of the
  * moment, whatever the order of the batch's columns and however many
  * threads share a binding: the pipelines' transforms (email repair,
  * `Dates.zeroTimeToNull`, which reads the year in the session zone)
  * are evaluated on the driver in one case and by Spark's physical plan
  * in the other.
  */
class DriverPathEquivalenceSpec extends SparkSpec {
  import RawBatches.{Created, ZeroTime, employee}

  private lazy val onDriver = DerbyStore.create("equivdriver")
  private lazy val onExecutors = DerbyStore.create("equivexecutors")

  private val Hour = 3600L * 1000L

  /** Employees with repeated ids (A4: ids 1–6 in batches of up to 10),
    * shared shortnames, and NULL, empty, invalid and valid emails.
    */
  private val employees: Gen[Seq[Row]] = {
    val email = Gen.oneOf[String](null, "", "12345", "x@nodomain", "broken.example",
      "ann@example.com", "b.o+b@corp.example")
    val row = for {
      id <- Gen.chooseNum(1L, 6L)
      sn <- Gen.oneOf("ann", "bob", "cat")
      e <- email
    } yield employee(id, sn, e)
    Gen.chooseNum(1, 10).flatMap(Gen.listOfN(_, row))
  }

  /** Tasks with repeated ids, NULL and known types, NULL, empty and
    * unknown executors, and closing dates at Go's zero time, before
    * 1970, and a few hours either side of the epoch, whose year depends
    * on the session time zone.
    */
  private val tasks: Gen[Seq[Row]] = {
    val closing = Gen.oneOf[Timestamp](ZeroTime, Timestamp.valueOf("1965-03-01 12:00:00"),
      new Timestamp(-4 * Hour), new Timestamp(3 * Hour), Created, null)
    val executors = Gen.oneOf(Gen.const(null), Gen.const(Seq.empty[String]),
      Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf[String]("ann", "bob", "cat", "zed", null))))
    val row = for {
      id <- Gen.chooseNum(1L, 8L)
      tpe <- Gen.oneOf[String]("repair", "install", null)
      closed <- closing
      address <- Gen.oneOf("1 Main St", "2 Oak Ave")
      ex <- executors
      isClosed <- Gen.oneOf(true, false)
    } yield Row(id, tpe, Created, closed, s"task $id", address, s"customer $id",
      s"login$id", null, ex, isClosed)
    Gen.chooseNum(1, 10).flatMap(Gen.listOfN(_, row))
  }

  /** Every stored column the batches write, task types by name (ids are
    * assigned in the order names are met, which partitions reorder).
    */
  private def contents(store: DerbyStore): Seq[Vector[Vector[Any]]] = Seq(
    store.rows("SELECT id, fullname, shortname, position, email, phone FROM employees ORDER BY id"),
    store.rows("""SELECT t.task_id, tt.type_name, t.creation_date, t.closing_date, t.description,
        t.address, t.customer_name, t.customer_login, t.is_closed FROM tasks t
        LEFT JOIN task_types tt ON t.task_type_id = tt.type_id ORDER BY t.task_id"""),
    store.rows("SELECT type_name FROM task_types ORDER BY type_name"),
    store.rows("SELECT task_id, executor_id FROM task_executors ORDER BY task_id, executor_id"))

  /** The employee then the task batch into `store`, and their tallies. */
  private def write(store: DerbyStore, employees: DataFrame, tasks: DataFrame): (Tally, Tally) = (
    Pipelines.employeeBatch(employees, DerbyDialect, store.cf),
    Pipelines.taskBatch(tasks, DerbyDialect, store.cf, store.loadDim(spark),
      store.loadEmployees(spark)))

  private val TimeZone = "spark.sql.session.timeZone"
  private val Ansi = "spark.sql.ansi.enabled"

  /** Runs `body` with `settings` set on the session, then restores them. */
  private def withConf[T](settings: Seq[(String, String)])(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Whether both raw local batches are driver-resident through the
    * pipelines' transforms.
    */
  private def resident(employees: DataFrame, tasks: DataFrame): Boolean =
    LocalRows.project(employees, Pipelines.employeeColumns).isDefined &&
      LocalRows.project(tasks, Pipelines.taskColumns).isDefined

  /** One generated batch pair per zone, in order, on one session. */
  private def agree(zones: String*): Unit = agreeIn(zones.map(z => Seq(TimeZone -> z)): _*)

  /** One generated batch pair per group of settings, in order, on one
    * session: each written from local frames into one store and from
    * parquet into the other, the stores compared after each.
    */
  private def agreeIn(settings: Seq[(String, String)]*): Unit = {
    val prop = Prop.forAll(Gen.listOfN(settings.size, Gen.zip(employees, tasks))) { batches =>
      onDriver.clear()
      onExecutors.clear()
      settings.zip(batches).map { case (conf, (es, ts)) =>
        withConf(conf) {
          val local = (RawBatches.employees(spark, es: _*), RawBatches.tasks(spark, ts: _*))
          val onDisk = (RawBatches.onDisk(local._1), RawBatches.onDisk(local._2))
          val paths = resident(local._1, local._2) &&
            LocalRows.project(onDisk._2, Pipelines.taskColumns).isEmpty
          val tallies = (write(onDriver, local._1, local._2),
            write(onExecutors, onDisk._1, onDisk._2))
          val (driverRows, executorRows) = (contents(onDriver), contents(onExecutors))
          (paths :| s"$conf: local frames driver-resident, parquet reads not") &&
            ((tallies._1 == tallies._2) :| s"$conf: tallies $tallies") &&
            ((driverRows == executorRows) :|
              s"$conf: driver store $driverRows\nexecutor store $executorRows")
        }
      }.reduce(_ && _)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.toString)
  }

  test("driver and executor paths leave equal stores and tallies in UTC") {
    agree("UTC", "UTC")
  }

  test("driver and executor paths leave equal stores and tallies in a non-UTC zone") {
    agree("America/Los_Angeles", "America/Los_Angeles")
  }

  test("driver and executor paths agree when the session time zone changes between batches") {
    agree("UTC", "America/Los_Angeles", "Asia/Tokyo")
  }

  test("a filtered or nondeterministic local frame is written by the executors, rows and tallies kept") {
    val raw = RawBatches.employees(spark, employee(1, "ann", "ann@example.com"),
      employee(2, "bob", "12345"), employee(1, "ann", ""))
    val filtered = raw.filter(col("id") > 0)
    assert(LocalRows.project(raw, Pipelines.employeeColumns).isDefined)
    assert(LocalRows.project(filtered, Pipelines.employeeColumns).isEmpty,
      "a projection of a filter is not driver-resident")
    onDriver.clear()
    onExecutors.clear()
    assert(Pipelines.employeeBatch(raw, DerbyDialect, onDriver.cf) == Tally(3, 2))
    assert(Pipelines.employeeBatch(filtered, DerbyDialect, onExecutors.cf) == Tally(3, 2))
    assert(contents(onExecutors) == contents(onDriver))
    assert(contents(onDriver).head.map(_.take(2)) ==
      Vector(Vector(1L, "Employee 1"), Vector(2L, "Employee 2")))

    // one projection of the local rows, so only rand() keeps it off the driver
    def flagged(flag: Column) = Seq(col("*"), flag.as("flag"))
    val (fixed, random) = (flagged(lit(true)), flagged(rand() >= 0))
    assert(LocalRows.project(raw, fixed).isDefined)
    assert(LocalRows.project(raw, random).isEmpty,
      "a nondeterministic column is not evaluated on the driver")
    onDriver.clear()
    onExecutors.clear()
    def upsert(transform: Seq[Column], store: DerbyStore) =
      JdbcMergeWriter.upsert(raw, MergeSpecs.employees, DerbyDialect, store.cf, Some("flag"),
        transform)
    assert(upsert(fixed, onDriver) == Tally(3, 3))
    assert(upsert(random, onExecutors) == Tally(3, 3))
    assert(contents(onExecutors) == contents(onDriver))
  }

  test("driver and executor paths agree when the time zone and ANSI mode change " +
    "between batches of one schema") {
    agreeIn(Seq(TimeZone -> "UTC", Ansi -> "false"), Seq(TimeZone -> "UTC", Ansi -> "true"),
      Seq(TimeZone -> "America/Los_Angeles", Ansi -> "true"),
      Seq(TimeZone -> "America/Los_Angeles", Ansi -> "false"))
  }

  /** `df` as a local frame with its columns in reverse order. */
  private def reversed(df: DataFrame): DataFrame = {
    val names = df.columns.reverse.toSeq
    spark.createDataFrame(df.select(names.map(col): _*).collect().toSeq.asJava,
      StructType(names.map(df.schema(_))))
  }

  test("a batch with its columns reordered leaves the store the executor path leaves") {
    val prop = Prop.forAll(Gen.zip(employees, tasks), Gen.zip(employees, tasks)) {
      case ((es1, ts1), (es2, ts2)) =>
        onDriver.clear()
        onExecutors.clear()
        val first = (RawBatches.employees(spark, es1: _*), RawBatches.tasks(spark, ts1: _*))
        val second = (reversed(RawBatches.employees(spark, es2: _*)),
          reversed(RawBatches.tasks(spark, ts2: _*)))
        val tallies = Seq(first, second).map { case (e, t) =>
          (write(onDriver, e, t), write(onExecutors, RawBatches.onDisk(e), RawBatches.onDisk(t)))
        }
        val (driverRows, executorRows) = (contents(onDriver), contents(onExecutors))
        (resident(second._1, second._2) :| "reordered local frames driver-resident") &&
          (tallies.forall { case (d, e) => d == e } :| s"tallies $tallies") &&
          ((driverRows == executorRows) :|
            s"driver store $driverRows\nexecutor store $executorRows")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.toString)
  }

  test("two threads sharing one binding each leave the store the executor path leaves") {
    val batchSets = Seq(11L, 12L).map(seed =>
      Gen.listOfN(8, Gen.zip(employees, tasks)).pureApply(Gen.Parameters.default, Seed(seed)))
    val stores = Seq(DerbyStore.create("equivthread0"), DerbyStore.create("equivthread1"))
    def frames(set: Seq[(Seq[Row], Seq[Row])]) =
      set.map { case (es, ts) => (RawBatches.employees(spark, es: _*), RawBatches.tasks(spark, ts: _*)) }
    // a wide batch of the employee schema, which both threads also
    // project many times at once through the binding their writes use
    val wide = RawBatches.employees(spark, (1L to 500L).map(i =>
      employee(i, s"sn$i", if (i % 3 == 0) "broken" else s"e$i@example.com")): _*)
    val want = wide.select(Pipelines.employeeColumns: _*).collect().toSeq
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = stores.zip(batchSets).map { case (store, set) =>
      val result = new java.util.concurrent.CompletableFuture[(Boolean, Seq[(Tally, Tally)])]
      val thread = new Thread(() => {
        val batches = frames(set)
        start.await()
        try {
          val projected = (1 to 40).forall(_ =>
            LocalRows.project(wide, Pipelines.employeeColumns).contains(want))
          result.complete((projected, batches.map { case (e, t) => write(store, e, t) }))
        } catch { case e: Throwable => result.completeExceptionally(e) }
      })
      thread.start()
      (thread, result)
    }
    start.countDown()
    val driver = results.map { case (thread, result) => thread.join(); result.get }
    assert(driver.forall(_._1), "a projection of the wide batch differed from collect()")
    stores.zip(batchSets).zip(driver).foreach { case ((store, set), (_, tallies)) =>
      onExecutors.clear()
      val executorTallies = frames(set).map { case (e, t) =>
        write(onExecutors, RawBatches.onDisk(e), RawBatches.onDisk(t))
      }
      assert(tallies == executorTallies)
      assert(contents(store) == contents(onExecutors))
    }
  }
}
