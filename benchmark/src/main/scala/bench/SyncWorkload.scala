package bench

import java.sql.{Connection, DriverManager, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.models.Schemas
import graft.observability.{Metrics, Observed}
import graft.sinks.{DerbyDialect, JdbcMergeWriter, MergeSpecs}
import graft.sinks.JdbcMergeWriter.ConnFactory
import graft.streaming.{Backfill, FetchResult, HashGatedPoller, SnapshotFetcher}

/** Upstream data for `sync`, generated from the seed before timing.
  *
  * The upstream serves two snapshots: every employee, and the tasks of
  * one day. The backfill pulls both for each day from the epoch to
  * today; every maintenance tick then re-pulls the full employee
  * snapshot and today's tasks. Tick `i` follows a fixed schedule so the
  * share of each tick kind does not depend on the seed or on how many
  * ticks fit in the run: `i % 10 == 0` changes nothing (both hashes
  * repeat), `i % 10 == 5` changes tasks only, every other tick changes
  * a few employees (one address-book edit may carry an invalid email)
  * and a few of today's tasks (new address, closed, new executors or
  * a new task type).
  */
object SyncGen {
  final case class Emp(id: Long, fullname: String, shortname: String,
      position: String, email: String, phone: String)
  final case class Tsk(id: Long, tpe: String, creation: Timestamp,
      closing: Timestamp, description: String, address: String,
      customerName: String, customerLogin: String, executors: Vector[String],
      isClosed: Boolean)
  final case class Snap[T](hash: String, items: Vector[T])
  final case class Day(date: Timestamp, employees: Snap[Emp], tasks: Snap[Tsk])
  final case class Geo(lat: Double, lon: Double, attempts: Int, error: String)
  final case class Plan(days: Vector[Day], ticks: Vector[(Snap[Emp], Snap[Tsk])],
      geo: Map[Long, Geo])

  val Employees = 100
  val TasksPerDay = 60
  val BackfillDays = 6
  val MaxTicks = 400
  /** Go's zero time: the upstream's closing date of an open task. */
  val ZeroTime: Timestamp = Timestamp.valueOf("0001-01-01 00:00:00")

  private val Positions = Vector("engineer", "installer", "dispatcher",
    "technician", "manager", "support")
  private val Streets = Vector("Main St", "Oak Ave", "Pine Rd", "Elm St",
    "Lake Dr", "Hill Rd", "Park Ln", "River St")
  private val Types = Vector("install", "repair", "inspect", "relocate", "remove")
  private val Words = Vector("cable", "router", "signal", "fiber", "socket",
    "modem", "outage", "upgrade", "panel", "antenna")

  def generate(seed: Long): Plan = {
    val rnd = new scala.util.Random(seed)
    def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.size))
    def phone(): String = f"+38067${rnd.nextInt(10000000)}%07d"
    def email(id: Long, name: String): String = rnd.nextInt(25) match {
      case 0 => ""
      case 1 => s"broken.$id.example"
      case 2 => s"$name@nodomain"
      case _ => s"$name.$id@corp.example"
    }
    def newEmp(id: Long): Emp = {
      val n = s"${pick(Words)}${rnd.nextInt(1000)}"
      Emp(id, s"Employee $n $id", s"sn$id", pick(Positions), email(id, n), phone())
    }
    val emps = mutable.LinkedHashMap((1L to Employees).map(i => i -> newEmp(i)): _*)
    var nextEmp = Employees + 1L
    var nextTask = 1L
    var nextType = 0

    def address(): String = s"${1 + rnd.nextInt(999)} ${pick(Streets)}"
    def executors(): Vector[String] = {
      val known = rnd.shuffle(emps.keys.toVector).take(1 + rnd.nextInt(3)).map(i => s"sn$i")
      if (rnd.nextInt(10) == 0) known :+ s"ext${rnd.nextInt(50)}" else known
    }
    def newTask(day: Timestamp): Tsk = {
      val created = new Timestamp(day.getTime + rnd.nextInt(86400) * 1000L)
      val closed = rnd.nextInt(3) == 0
      val t = Tsk(nextTask, pick(Types), created,
        if (closed) new Timestamp(created.getTime + 3600000L) else ZeroTime,
        s"${pick(Words)} ${pick(Words)} ${rnd.nextInt(100)}", address(),
        s"Customer ${rnd.nextInt(5000)}", s"cust${rnd.nextInt(5000)}",
        executors(), closed)
      nextTask += 1
      t
    }
    def editEmp(e: Emp): Emp = rnd.nextInt(4) match {
      case 0 => e.copy(position = pick(Positions.filterNot(_ == e.position)))
      case 1 => e.copy(phone = phone())
      case 2 => e.copy(fullname = e.fullname + " Jr")
      case _ => e.copy(email = s"broken.${e.id}.${rnd.nextInt(100)}")
    }
    def editEmployees(n: Int): Unit =
      rnd.shuffle(emps.keys.toVector).take(n).foreach(i => emps(i) = editEmp(emps(i)))
    def hire(): Unit = { emps(nextEmp) = newEmp(nextEmp); nextEmp += 1 }
    def editTask(t: Tsk, kind: Int): Tsk = kind match {
      case 0 => t.copy(address = address())
      case 1 => t.copy(isClosed = true,
        closing = new Timestamp(t.creation.getTime + 7200000L))
      case 2 => t.copy(executors = (t.executors :+ s"sn${1 + rnd.nextInt(Employees)}").distinct)
      case _ =>
        nextType += 1
        t.copy(tpe = s"type-$nextType")
    }
    var version = 0
    def snap[T](items: Vector[T]): Snap[T] = { version += 1; Snap(s"h$seed-$version", items) }

    val epoch = Backfill.defaultEpoch
    val days = (0 until BackfillDays).toVector.map { d =>
      val date = new Timestamp(epoch.getTime + d * 86400000L)
      if (d > 0) { editEmployees(3); hire(); hire() }
      Day(date, snap(emps.values.toVector), snap(Vector.fill(TasksPerDay)(newTask(date))))
    }
    val today = days.last.date
    val todays = mutable.LinkedHashMap(days.last.tasks.items.map(t => t.id -> t): _*)
    val geo = todays.keys.map(id => id -> Geo(50 + rnd.nextDouble(), 30 + rnd.nextDouble(),
      1 + rnd.nextInt(3), if (rnd.nextInt(4) == 0) "timeout" else null)).toMap

    var empSnap = days.last.employees
    var taskSnap = days.last.tasks
    val ticks = (0 until MaxTicks).toVector.map { i =>
      if (i % 10 != 0) {
        if (i % 10 != 5) {
          editEmployees(3)
          if (i % 10 == 1) hire()
          empSnap = snap(emps.values.toVector)
        }
        rnd.shuffle(todays.keys.toVector).take(5).zipWithIndex.foreach { case (id, k) =>
          todays(id) = editTask(todays(id), if (k < 3) k else rnd.nextInt(4))
        }
        if (i % 10 == 2) (0 until 2).foreach { _ => val t = newTask(today); todays(t.id) = t }
        taskSnap = snap(todays.values.toVector)
      }
      (empSnap, taskSnap)
    }
    Plan(days, ticks, geo)
  }
}

/** The store state the sink must reach, folded from the snapshots the
  * run actually delivered. Each processed snapshot is applied whole:
  * employees are upserted with invalid emails replaced, tasks are
  * upserted with their geocoding kept only while the address is
  * unchanged, the bridge of every delivered task is replaced.
  */
final class SyncModel {
  import SyncGen._
  val employees = mutable.Map.empty[Long, Emp]
  val tasks = mutable.Map.empty[Long, Tsk]
  val geo = mutable.Map.empty[Long, Geo]
  val types = mutable.Set.empty[String]
  val bridge = mutable.Map.empty[Long, Vector[Option[Long]]]
  var watermark: Option[Timestamp] = None

  private val EmailRegex = graft.functions.Validation.EmailRegex.r

  /** The program's documented repair: a valid email is kept, anything
    * else becomes gen-<first 12 hex of md5(id)>@placeholder.local.
    */
  def repairedEmail(e: Emp): String =
    if (e.email != null && EmailRegex.matches(e.email)) e.email
    else {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(e.id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"gen-${md5.take(12)}@placeholder.local"
    }

  def applyEmployees(items: Seq[Emp]): Unit =
    items.foreach(e => employees(e.id) = e.copy(email = repairedEmail(e)))

  def applyTasks(items: Seq[Tsk]): Unit = {
    val bySn = employees.values.map(e => e.shortname -> e.id).toMap
    items.foreach { t =>
      tasks.get(t.id).foreach(old => if (old.address != t.address) geo -= t.id)
      tasks(t.id) = t
      types += t.tpe
      bridge(t.id) = t.executors.map(bySn.get)
    }
  }

  /** Rows that differ from the state before the batch (inserted or
    * changed), the denominator of the sink's write amplification.
    */
  def changedEmployees(items: Seq[Emp]): Int =
    items.count(e => !employees.get(e.id).contains(e.copy(email = repairedEmail(e))))
  def changedTasks(items: Seq[Tsk]): Int = items.count(t => !tasks.get(t.id).contains(t))
}

object SyncWorkload {
  import SyncGen._

  private val Ddl = Seq(
    """CREATE TABLE employees (id BIGINT PRIMARY KEY, fullname VARCHAR(200),
      shortname VARCHAR(50), position VARCHAR(100), email VARCHAR(200),
      phone VARCHAR(50), updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""",
    // comments is always NULL here: Derby has no array type (see the
    // records in BENCHMARK.md)
    """CREATE TABLE tasks (task_id BIGINT PRIMARY KEY, task_type_id INT,
      creation_date TIMESTAMP, closing_date TIMESTAMP, description VARCHAR(500),
      address VARCHAR(200), customer_name VARCHAR(200), customer_login VARCHAR(100),
      comments VARCHAR(1000), is_closed BOOLEAN,
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP, latitude DOUBLE,
      longitude DOUBLE, geocoding_attempts INT DEFAULT 0, geocoding_error VARCHAR(200))""",
    """CREATE TABLE task_types (type_id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      type_name VARCHAR(100) UNIQUE)""",
    "CREATE TABLE task_executors (task_id BIGINT, executor_id BIGINT)",
    """CREATE TABLE scraper_status (id INT PRIMARY KEY, last_processed_date TIMESTAMP,
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")

  final class Store(val url: String) {
    def withConn[T](f: Connection => T): T = {
      val c = DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    def exec(sql: String): Unit = withConn(c => { val s = c.createStatement(); s.execute(sql); s.close() })
    def rows(sql: String): Vector[Vector[AnyRef]] = withConn { c =>
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Vector.newBuilder[Vector[AnyRef]]
      while (rs.next()) out += (1 to n).map(rs.getObject).toVector
      out.result()
    }
  }

  def createStore(dir: String): Store = {
    new java.io.File(dir).mkdirs()
    System.setProperty("derby.system.durability", "test")
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val s = new Store(s"jdbc:derby:$dir/syncdb;create=true")
    Ddl.foreach(s.exec)
    s
  }

  private def empRow(e: Emp): Row = Row(e.id, e.fullname, e.shortname, e.position, e.email, e.phone)
  private def taskRow(t: Tsk): Row = Row(t.id, t.tpe, t.creation, t.closing, t.description,
    t.address, t.customerName, t.customerLogin, null, t.executors, t.isClosed)

  final case class Walls(backfillDays: Vector[Double], backfillRows: Vector[Long],
      ticks: Vector[Double], polls: Int, skipped: Int, rowsDelivered: Long,
      changedRows: Long, tickRows: Long, tickChangedRows: Long)

  /** One run of the sync service against `store`: the day-by-day
    * backfill, an untimed geocoding pass over today's tasks, then
    * maintenance ticks until `deadline` (at least `minTicks`). Returns
    * the per-op walls.
    */
  def run(spark: SparkSession, plan: Plan, store: Store, cf: ConnFactory,
      model: SyncModel, tracer: Tracer, deadline: Long, minTicks: Int): Walls = {
    val metrics = new Metrics
    def frame(rows: Seq[Row], schema: StructType): DataFrame =
      tracer.span("sources.batch_frame")(spark.createDataFrame(rows.asJava, schema))
    def query(name: String, sql: String, schema: StructType): DataFrame =
      tracer.span(name) {
        val c = cf()
        val rows = try {
          val rs = c.createStatement().executeQuery(sql)
          val b = Vector.newBuilder[Row]
          while (rs.next()) b += Row.fromSeq(schema.fields.indices.map(i => rs.getObject(i + 1)))
          b.result()
        } finally c.close()
        spark.createDataFrame(rows.asJava, schema)
      }
    val dimSchema = StructType(Seq(StructField("type_id", IntegerType), StructField("type_name", StringType)))
    val empSchema = StructType(Seq(StructField("id", LongType), StructField("shortname", StringType)))
    val loadDim = () => query("sinks.load_dim", "SELECT type_id, type_name FROM task_types", dimSchema)
    val loadEmployees = () => query("sinks.load_employees", "SELECT id, shortname FROM employees", empSchema)
    var changed = 0L
    var delivered = 0L
    def employeeBatch(items: Seq[Emp]): Unit = tracer.span("streaming.employee_batch") {
      changed += model.changedEmployees(items)
      delivered += items.size
      Observed.employeeBatch(frame(items.map(empRow), Schemas.employee), DerbyDialect, cf, metrics)
      model.applyEmployees(items)
    }
    def taskBatch(items: Seq[Tsk]): Unit = tracer.span("streaming.task_batch") {
      changed += model.changedTasks(items)
      delivered += items.size
      Observed.taskBatch(frame(items.map(taskRow), Schemas.task), DerbyDialect, cf,
        loadDim, loadEmployees, metrics)
      model.applyTasks(items)
    }

    // 1. backfill, one op per day: the day processed, then the watermark advanced
    val dayWalls = Vector.newBuilder[Double]
    var dayStart = 0L
    val byDate = plan.days.map(d => d.date -> d).toMap
    Backfill.run(plan.days.head.date, plan.days.last.date,
      processDate = date => {
        dayStart = System.nanoTime()
        tracer.begin("sync.backfill_day")
        tracer.span("streaming.backfill_day") {
          val d = byDate(date)
          employeeBatch(d.employees.items)
          taskBatch(d.tasks.items)
        }
      },
      saveWatermark = wm => {
        tracer.span("sinks.watermark") {
          JdbcMergeWriter.upsert(
            spark.createDataFrame(Seq(Row(1, wm)).asJava,
              StructType(Schemas.scraperStatusTable.fields.take(2))),
            MergeSpecs.scraperStatus, DerbyDialect, cf)
        }
        model.watermark = Some(wm)
        tracer.end()
        dayWalls += (System.nanoTime() - dayStart) / 1e9
      })
    val backfillRows = plan.days.map(d => (d.employees.items.size + d.tasks.items.size).toLong)

    // 2. geocoding of today's tasks happens outside the service
    val geo = plan.geo.filter { case (id, _) => model.tasks.contains(id) }
    store.withConn { c =>
      val ps = c.prepareStatement("UPDATE tasks SET latitude = ?, longitude = ?, " +
        "geocoding_attempts = ?, geocoding_error = ? WHERE task_id = ?")
      geo.foreach { case (id, g) =>
        ps.setDouble(1, g.lat); ps.setDouble(2, g.lon); ps.setInt(3, g.attempts)
        ps.setString(4, g.error); ps.setLong(5, id); ps.executeUpdate()
      }
      ps.close()
    }
    model.geo ++= geo

    // 3. maintenance ticks through the hash gate
    var tick = 0
    // tick 0 answers with the hashes the backfill's last day committed
    // and no items, which sets the gate's known hash without a batch
    def fetcher[T](pick: ((Snap[Emp], Snap[Tsk])) => Snap[T]) = new SnapshotFetcher[T] {
      def fetch(knownHash: Option[String]): FetchResult[T] = {
        val s = pick(plan.ticks(tick))
        FetchResult(s.hash, if (tick == 0) Vector.empty else s.items)
      }
    }
    val empPoller = new HashGatedPoller[Emp](fetcher(_._1), employeeBatch)
    val taskPoller = new HashGatedPoller[Tsk](fetcher(_._2), taskBatch)
    empPoller.poll(); taskPoller.poll()
    var polls = 0
    var skipped = 0
    def poll(p: HashGatedPoller[_]): Unit = tracer.span("streaming.poll") {
      polls += 1
      if (!p.poll()) skipped += 1
    }
    val tickWalls = Vector.newBuilder[Double]
    val (delivered0, changed0) = (delivered, changed)
    tick = 1
    while (tick < plan.ticks.size && (tick <= minTicks || System.nanoTime() < deadline)) {
      val t0 = System.nanoTime()
      tracer.op("sync.tick") { poll(empPoller); poll(taskPoller) }
      tickWalls += (System.nanoTime() - t0) / 1e9
      tick += 1
    }
    Walls(dayWalls.result(), backfillRows, tickWalls.result(), polls, skipped, delivered, changed,
      delivered - delivered0, changed - changed0)
  }

  private def ts(v: AnyRef): Option[Long] = Option(v).map(_.asInstanceOf[Timestamp].getTime)

  /** Differences between the Derby store and the model (empty = equal). */
  def check(store: Store, model: SyncModel): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def same[T](what: String, got: Iterable[T], want: Iterable[T]): Unit = {
      val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
      val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
      if (g != w) {
        val extra = (g.keySet -- w.keySet).take(2)
        val missing = (w.keySet -- g.keySet).take(2)
        errs += s"$what differs: ${g.size} vs ${w.size} distinct rows; " +
          s"unexpected $extra; missing $missing"
      }
    }
    same("employees",
      store.rows("SELECT id, fullname, shortname, position, email, phone FROM employees")
        .map(r => (r(0).toString.toLong, r(1), r(2), r(3), r(4), r(5))),
      model.employees.values.map(e => (e.id, e.fullname, e.shortname, e.position, e.email, e.phone)))
    same("tasks",
      store.rows("""SELECT t.task_id, tt.type_name, t.creation_date, t.closing_date,
          t.description, t.address, t.customer_name, t.customer_login, t.comments,
          t.is_closed FROM tasks t LEFT JOIN task_types tt ON t.task_type_id = tt.type_id""")
        .map(r => (r(0).toString.toLong, r(1), ts(r(2)), ts(r(3)), r(4), r(5), r(6), r(7),
          r(8), r(9))),
      model.tasks.values.map(t => (t.id, t.tpe, Some(t.creation.getTime),
        if (t.closing == ZeroTime) None else Some(t.closing.getTime), t.description,
        t.address, t.customerName, t.customerLogin, null, java.lang.Boolean.valueOf(t.isClosed))))
    same("geocoding",
      store.rows("""SELECT task_id, latitude, longitude, geocoding_attempts, geocoding_error
          FROM tasks WHERE latitude IS NOT NULL OR longitude IS NOT NULL
          OR geocoding_attempts <> 0 OR geocoding_error IS NOT NULL""")
        .map(r => (r(0).toString.toLong, r(1), r(2), r(3), r(4))),
      model.geo.map { case (id, g) => (id, Double.box(g.lat), Double.box(g.lon),
        Int.box(g.attempts), g.error) })
    same("task_types", store.rows("SELECT type_name FROM task_types").map(_(0)), model.types)
    same("task_executors",
      store.rows("SELECT task_id, executor_id FROM task_executors")
        .map(r => (r(0).toString.toLong, Option(r(1)).map(_.toString.toLong))),
      model.bridge.toSeq.flatMap { case (id, ex) => ex.map(e => (id, e)) })
    same("scraper_status",
      store.rows("SELECT id, last_processed_date FROM scraper_status")
        .map(r => (r(0).toString.toInt, ts(r(1)))),
      model.watermark.map(w => (1, Some(w.getTime))).toSeq)
    errs.toSeq
  }
}
