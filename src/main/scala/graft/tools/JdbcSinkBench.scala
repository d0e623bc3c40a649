package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{DerbyDialect, JdbcMergeWriter, MergeSpec, MergeSpecs}

/** Throughput anchor for the JDBC sink path — the one surface with no
  * perf number through round 8. Measures [[JdbcMergeWriter.upsert]]
  * (MERGE) and [[JdbcMergeWriter.upsertWithBridge]] (fact MERGE fused
  * with its dimension and the bridge rewrite) rows/sec against embedded
  * Derby at ~1M rows.
  *
  * Why Derby and not the live Postgres the MERGE SQL is proven on:
  * the container ships Postgres server binaries but no Postgres JDBC
  * driver (zero egress), so `PostgresLiveSpec` necessarily drives the
  * dialect's statement TEXT through psql — a path that cannot carry a
  * DataFrame. Derby is the only JDBC engine reachable from the sink
  * code itself, which makes this a measurement of the WRITER (batch
  * sizing, per-partition transaction, per-chunk bridge rewrite), with
  * the store's own ingest speed as a Derby-specific constant. The
  * numbers anchor the writer's overhead shape, not Postgres capacity.
  *
  * Phases, each timed around the full Spark action:
  *   ins   1M fresh keys          — insert-heavy MERGE
  *   upd   same keys, new values  — update-heavy MERGE
  *   noop  same keys, same values — skip-if-identical MERGE (the
  *         write-amplification guard: applied updates should be ~0,
  *         wall time shows what the guard costs when nothing changed)
  *   bridge 1M rows / 100k groups — delete+insert group rewrite, each
  *         group owned by one fact row (a 100k-row `tasks` MERGE); the
  *         tasks name 10 types the dimension snapshot lacks, so every
  *         partition races to create the same 10 `task_types` rows
  *
  * Env: SINK_ROWS (default 1,000,000), SINK_PARTITIONS (default 4 —
  * concurrent per-partition transactions into one embedded store;
  * Derby's lock manager serializes table-level escalations, so this
  * measures the writer under mild store-side contention, the realistic
  * shape), SINK_GROUPS (default 100,000).
  *
  * Prints one JSON line with rows/sec per phase.
  */
object JdbcSinkBench {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SINK_ROWS", "1000000").toLong
    val parts = sys.env.getOrElse("SINK_PARTITIONS", "4").toInt
    val groups = sys.env.getOrElse("SINK_GROUPS", "100000").toLong

    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dbDir = java.nio.file.Files.createTempDirectory("graft-sinkbench")
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val cf = JdbcMergeWriter.connFactory(url)
    locally {
      val c = cf()
      try {
        val st = c.createStatement()
        st.execute("""CREATE TABLE employees (
          id BIGINT PRIMARY KEY, fullname VARCHAR(200), shortname VARCHAR(50),
          position VARCHAR(100), email VARCHAR(200), phone VARCHAR(50),
          updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
        st.execute("CREATE TABLE tasks (task_id BIGINT PRIMARY KEY, task_type_id INT, fanout INT)")
        st.execute("""CREATE TABLE task_types (type_id INT GENERATED ALWAYS AS IDENTITY
          PRIMARY KEY, type_name VARCHAR(100) UNIQUE)""")
        st.execute("CREATE TABLE task_executors (task_id BIGINT, executor_id BIGINT)")
        // the writer DELETEs each group by key — unindexed, that is a
        // 1M-row scan per group; any real bridge table has this
        st.execute("CREATE INDEX te_task ON task_executors (task_id)")
        st.close()
      } finally c.close()
    }

    def employees(tag: String): DataFrame =
      spark.range(rows).repartition(parts).select(
        col("id"),
        concat(lit(s"Employee $tag "), col("id")).as("fullname"),
        concat(lit("emp"), col("id")).as("shortname"),
        lit("worker").as("position"),
        concat(lit("e"), col("id"), lit("@example.com")).as("email"),
        concat(lit("+380"), lpad(col("id") % 1000000000L, 9, "0")).as("phone"))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val insSec = timed(JdbcMergeWriter.upsert(
      employees("v1"), MergeSpecs.employees, DerbyDialect, cf))
    val updSec = timed(JdbcMergeWriter.upsert(
      employees("v2"), MergeSpecs.employees, DerbyDialect, cf))
    val noopSec = timed(JdbcMergeWriter.upsert(
      employees("v2"), MergeSpecs.employees, DerbyDialect, cf))

    // group g owns the ids i < rows with i % groups == g
    val owners = spark.range(groups).repartition(parts).select(
      col("id").as("task_id"),
      concat(lit("type-"), col("id") % 10).as("type_name"),
      sequence(col("id"), lit(rows - 1), lit(groups)).as("executor_ids"))
      .withColumn("fanout", size(col("executor_ids")))
    val bridgeSec = timed(JdbcMergeWriter.upsertWithBridge(
      owners,
      MergeSpec("tasks", Seq("task_id"), Seq("task_id", "task_type_id", "fanout"),
        Seq("task_type_id", "fanout")),
      JdbcMergeWriter.DimensionSpec("task_types", "type_id", "type_name", "task_type_id",
        _ => None),
      JdbcMergeWriter.BridgeSpec("task_executors", "task_id", "executor_id",
        r => r.getAs[scala.collection.Seq[Long]]("executor_ids")),
      DerbyDialect, cf))

    // correctness floor: every phase must have landed every row
    val c = cf()
    val (nEmp, nBridge, nTypes, nUntyped) = try {
      def one(sql: String): Long = {
        val rs = c.createStatement().executeQuery(sql)
        rs.next(); rs.getLong(1)
      }
      (one("SELECT COUNT(*) FROM employees"),
        one("SELECT COUNT(*) FROM task_executors"),
        one("SELECT COUNT(*) FROM task_types"),
        one("SELECT COUNT(*) FROM tasks WHERE task_type_id IS NULL"))
    } finally c.close()
    require(nEmp == rows, s"employees: $nEmp != $rows")
    require(nBridge == rows, s"bridge: $nBridge != $rows")
    require(nTypes == math.min(groups, 10L), s"task_types: $nTypes rows")
    require(nUntyped == 0, s"tasks without a type id: $nUntyped")

    def rps(s: Double): Long = math.round(rows / s)
    println(s"""{"rows":$rows,"partitions":$parts,"groups":$groups,""" +
      s""""insert_sec":$insSec,"insert_rows_per_sec":${rps(insSec)},""" +
      s""""update_sec":$updSec,"update_rows_per_sec":${rps(updSec)},""" +
      s""""noop_sec":$noopSec,"noop_rows_per_sec":${rps(noopSec)},""" +
      s""""bridge_sec":$bridgeSec,"bridge_rows_per_sec":${rps(bridgeSec)},""" +
      s""""batch_size":500,"engine":"derby-embedded"}""")
    spark.stop()
    // Derby shutdown signals success via SQLException — expected
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir/db;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    scala.reflect.io.Directory(dbDir.toFile).deleteRecursively(): Unit
  }
}
