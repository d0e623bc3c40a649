package graft.sinks

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** An in-memory Derby store with the service's full schema, for tests
  * that drive whole pipeline batches. Derby has no array type, so
  * `tasks.comments` is a VARCHAR the tests leave NULL.
  *
  * The loaders read the store on the driver into a local frame, the
  * way a deployment hands `loadDim` / `loadEmployees` to the task
  * pipeline.
  */
final class DerbyStore(name: String) {
  val url = s"jdbc:derby:memory:$name;create=true"
  val cf: JdbcMergeWriter.ConnFactory = JdbcMergeWriter.connFactory(url)

  def exec(sql: String): Unit = {
    val c = cf()
    try { val st = c.createStatement(); st.execute(sql); st.close() }
    finally c.close()
  }

  /** Every row of `sql`, columns as JDBC objects. */
  def rows(sql: String): Vector[Vector[Any]] = {
    val c = cf()
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Vector.newBuilder[Vector[Any]]
      while (rs.next()) out += (1 to n).map(i => rs.getObject(i): Any).toVector
      out.result()
    } finally c.close()
  }

  private def local(spark: SparkSession, sql: String, schema: StructType): DataFrame =
    spark.createDataFrame(rows(sql).map(Row.fromSeq).asJava, schema)

  def loadDim(spark: SparkSession): () => DataFrame = () =>
    local(spark, "SELECT type_id, type_name FROM task_types", StructType(Seq(
      StructField("type_id", IntegerType), StructField("type_name", StringType))))

  def loadEmployees(spark: SparkSession): () => DataFrame = () =>
    local(spark, "SELECT id, shortname FROM employees", StructType(Seq(
      StructField("id", LongType), StructField("shortname", StringType))))

  /** Empties every table (task_types restarts its ids). */
  def clear(): Unit = {
    Seq("task_executors", "tasks", "employees").foreach(t => exec(s"DELETE FROM $t"))
    exec("DROP TABLE task_types")
    exec(DerbyStore.TaskTypes)
  }
}

object DerbyStore {
  private val TaskTypes =
    """CREATE TABLE task_types (type_id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
      type_name VARCHAR(100) UNIQUE)"""

  private val Ddl = Seq(
    """CREATE TABLE employees (id BIGINT PRIMARY KEY, fullname VARCHAR(200),
      shortname VARCHAR(50), position VARCHAR(100), email VARCHAR(200),
      phone VARCHAR(50), updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""",
    """CREATE TABLE tasks (task_id BIGINT PRIMARY KEY, task_type_id INT,
      creation_date TIMESTAMP, closing_date TIMESTAMP, description VARCHAR(500),
      address VARCHAR(200), customer_name VARCHAR(200), customer_login VARCHAR(100),
      comments VARCHAR(1000), is_closed BOOLEAN,
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP, latitude DOUBLE,
      longitude DOUBLE, geocoding_attempts INT DEFAULT 0, geocoding_error VARCHAR(200))""",
    TaskTypes,
    "CREATE TABLE task_executors (task_id BIGINT, executor_id BIGINT)",
    // Derby's heap scan locks every row before testing it, so without
    // this index two partitions' bridge DELETEs deadlock on each
    // other's rows; with it each DELETE probes only its own keys
    "CREATE INDEX task_executors_task ON task_executors (task_id)")

  /** A fresh store named `name` (one per suite: in-memory stores live
    * as long as the JVM).
    */
  def create(name: String): DerbyStore = {
    val s = new DerbyStore(name)
    Ddl.foreach(s.exec)
    s
  }
}
