package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, rand}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.SparkSpec
import graft.sinks.{DerbyDialect, DerbyStore, JdbcMergeWriter, MergeSpecs}
import graft.sinks.JdbcMergeWriter.Tally
import graft.sources.LocalRows

/** The sink's two paths write the same thing. A batch handed over as a
  * local frame is written on the driver, from rows `LocalRows`
  * evaluates; the same batch read back from parquet is written on the
  * executors, through `foreachPartition`. Both must leave equal stores
  * and return equal tallies, for generated employee and task batches,
  * in the session time zone of the moment: the pipelines' transforms
  * (email repair, `Dates.zeroTimeToNull`, which reads the year in the
  * session zone) are evaluated on the driver in one case and by Spark's
  * physical plan in the other.
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

  private def inZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, saved)
  }

  /** One generated batch pair per zone, in order, on one session: each
    * written from local frames into one store and from parquet into
    * the other, the stores compared after each.
    */
  private def agree(zones: String*): Unit = {
    val prop = Prop.forAll(Gen.listOfN(zones.size, Gen.zip(employees, tasks))) { batches =>
      onDriver.clear()
      onExecutors.clear()
      zones.zip(batches).map { case (zone, (es, ts)) =>
        inZone(zone) {
          val local = (RawBatches.employees(spark, es: _*), RawBatches.tasks(spark, ts: _*))
          val onDisk = (RawBatches.onDisk(local._1), RawBatches.onDisk(local._2))
          val resident = LocalRows.of(Pipelines.transformEmployees(local._1)).isDefined &&
            LocalRows.of(Pipelines.transformTasks(local._2)).isDefined &&
            LocalRows.of(Pipelines.transformTasks(onDisk._2)).isEmpty
          val tallies = (write(onDriver, local._1, local._2),
            write(onExecutors, onDisk._1, onDisk._2))
          val (driverRows, executorRows) = (contents(onDriver), contents(onExecutors))
          (resident :| s"$zone: local frames driver-resident, parquet reads not") &&
            ((tallies._1 == tallies._2) :| s"$zone: tallies $tallies") &&
            ((driverRows == executorRows) :|
              s"$zone: driver store $driverRows\nexecutor store $executorRows")
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
    assert(LocalRows.of(Pipelines.transformEmployees(raw)).isDefined)
    assert(LocalRows.of(Pipelines.transformEmployees(filtered)).isEmpty,
      "a projection of a filter is not driver-resident")
    onDriver.clear()
    onExecutors.clear()
    assert(Pipelines.employeeBatch(raw, DerbyDialect, onDriver.cf) == Tally(3, 2))
    assert(Pipelines.employeeBatch(filtered, DerbyDialect, onExecutors.cf) == Tally(3, 2))
    assert(contents(onExecutors) == contents(onDriver))
    assert(contents(onDriver).head.map(_.take(2)) ==
      Vector(Vector(1L, "Employee 1"), Vector(2L, "Employee 2")))

    // one projection of the local rows, so only rand() keeps it off the driver
    def flagged(flag: org.apache.spark.sql.Column) = raw.select(col("*"), flag.as("flag"))
    val (fixed, random) = (flagged(lit(true)), flagged(rand() >= 0))
    assert(LocalRows.of(fixed).isDefined)
    assert(LocalRows.of(random).isEmpty, "a nondeterministic column is not evaluated on the driver")
    onDriver.clear()
    onExecutors.clear()
    def upsert(df: DataFrame, store: DerbyStore) =
      JdbcMergeWriter.upsert(df, MergeSpecs.employees, DerbyDialect, store.cf, Some("flag"))
    assert(upsert(fixed, onDriver) == Tally(3, 3))
    assert(upsert(random, onExecutors) == Tally(3, 3))
    assert(contents(onExecutors) == contents(onDriver))
  }
}
