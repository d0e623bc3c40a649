package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Timestamp}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Executor-side JDBC MERGE writer — the `foreachBatch` body of the
  * pipelines (SURVEY.md §7.2: Spark's native jdbc writer can't MERGE,
  * so this is custom by necessity).
  *
  * Distribution model: [[upsert]] runs per partition on the executors
  * — each partition opens one connection, prepares its statements
  * once, and streams rows through inside a single transaction. No
  * global transaction exists across partitions (neither does one in
  * the reference, which writes row-by-row); replay safety comes from
  * the MERGE being idempotent, the same argument the reference makes
  * (SURVEY.md §2.6 "Progress/exactly-once").
  *
  * [[upsertWithBridge]] writes a fact table with its dimension (K4)
  * and its bridge table (K5) in the same pass, in K7 order within
  * every chunk: dimension → fact → DELETE → INSERT. A fact row's
  * dimension name resolves through the driver's broadcast snapshot;
  * a name the snapshot lacks is created on a separate autocommit
  * connection, so a new dimension row commits at once and is never
  * held across a fact transaction. The fact rows are key-unique, so
  * each one owns its bridge group and the partition holding the fact
  * row holds the whole group: the group's DELETE + INSERT commit
  * atomically with the fact row — an idempotent group overwrite.
  */
object JdbcMergeWriter {

  type ConnFactory = () => Connection

  /** Executor-side sink instrumentation: Spark accumulators survive a
    * real cluster (driver-side timers only see the action's wall
    * time, not per-partition transaction behavior). Feed the totals
    * into [[graft.observability.Metrics]] after the batch.
    */
  final class SinkMetrics(sc: org.apache.spark.SparkContext) extends Serializable {
    val rowsWritten = sc.longAccumulator("graft.sink.rowsWritten")
    val txnNanos = sc.longAccumulator("graft.sink.txnNanos")
    val partitionsTouched = sc.longAccumulator("graft.sink.partitionsTouched")
  }

  def connFactory(url: String): ConnFactory = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  private val BatchSize = 500

  private def setParam(ps: PreparedStatement, idx: Int, v: Any,
      conn: Connection): Unit = v match {
    case null => ps.setObject(idx, null)
    case s: String => ps.setString(idx, s)
    case l: Long => ps.setLong(idx, l)
    case i: Int => ps.setInt(idx, i)
    case d: Double => ps.setDouble(idx, d)
    case b: Boolean => ps.setBoolean(idx, b)
    case t: Timestamp => ps.setTimestamp(idx, t)
    case d: java.math.BigDecimal => ps.setBigDecimal(idx, d)
    case seq: scala.collection.Seq[_] => // comments text[] (task.go:114-117)
      ps.setArray(idx, conn.createArrayOf("varchar",
        seq.map(_.asInstanceOf[AnyRef]).toArray))
    case other => ps.setObject(idx, other)
  }

  private def bind(ps: PreparedStatement, params: Seq[String], r: Row,
      conn: Connection): Unit =
    params.zipWithIndex.foreach { case (c, i) =>
      setParam(ps, i + 1, r.getAs[Any](c), conn)
    }

  /** Stream rows through the merge plan on one connection. */
  private def mergeRows(rows: Iterator[Row], plan: MergePlan,
      conn: Connection): Unit = plan match {
    case SingleStatementMerge(sql, params) =>
      val ps = conn.prepareStatement(sql)
      try {
        var pending = 0
        rows.foreach { r =>
          bind(ps, params, r, conn)
          ps.addBatch()
          pending += 1
          if (pending >= BatchSize) { ps.executeBatch(); pending = 0 }
        }
        if (pending > 0) ps.executeBatch()
      } finally ps.close()

    case UpdateThenInsertMerge(uSql, uPar, eSql, ePar, iSql, iPar) =>
      val upd = conn.prepareStatement(uSql)
      val exi = conn.prepareStatement(eSql)
      val ins = conn.prepareStatement(iSql)
      try {
        rows.foreach { r =>
          bind(upd, uPar, r, conn)
          if (upd.executeUpdate() == 0) {
            bind(exi, ePar, r, conn)
            val rs = exi.executeQuery()
            val exists = try rs.next() finally rs.close()
            if (!exists) { bind(ins, iPar, r, conn); ins.executeUpdate() }
            // exists-but-no-update = skip-if-identical leg: nothing to do
          }
        }
      } finally { upd.close(); exi.close(); ins.close() }
  }

  /** Runs `body` in one transaction on `conn` and closes it. On
    * failure the original error is rethrown: a broken connection
    * usually fails its rollback and close too, and those errors are
    * attached to it as suppressed instead of replacing it.
    */
  private[sinks] def inTxn(conn: Connection)(body: => Unit): Unit = {
    try {
      conn.setAutoCommit(false)
      body
      conn.commit()
    } catch {
      case e: Throwable =>
        Seq(() => conn.rollback(), () => conn.close()).foreach { cleanup =>
          try cleanup() catch { case s: Throwable => e.addSuppressed(s) }
        }
        throw e
    }
    conn.close()
  }

  /** MERGE every row of `df` through `spec` — K1/K2/K3/K6 semantics.
    * Rows must be key-unique (callers dedupe with A4 first; MERGE
    * requires unique source keys).
    */
  def upsert(df: DataFrame, spec: MergeSpec, dialect: SqlDialect,
      cf: ConnFactory, metrics: Option[SinkMetrics] = None): Unit = {
    val plan = dialect.mergePlan(spec) // built driver-side; plan is Serializable
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val t0 = System.nanoTime()
        var n = 0L
        val counted = it.map { r => n += 1; r }
        val conn = cf()
        inTxn(conn) { mergeRows(counted, plan, conn) }
        metrics.foreach { m =>
          m.rowsWritten.add(n)
          m.txnNanos.add(System.nanoTime() - t0)
          m.partitionsTouched.add(1)
        }
      }
    }
  }

  /** The dimension a fact row names (K4): the fact row's `nameCol`
    * value resolves to the `idCol` of the `table` row with that name
    * and is bound as the fact's `factIdCol` (a NULL name binds a NULL
    * id). `known(name)` is the driver's snapshot of the dimension;
    * [[upsertWithBridge]] creates every name it lacks. Ids stay
    * store-assigned (INT identity) — never generated in Spark.
    */
  final case class DimensionSpec(table: String, idCol: String, nameCol: String,
      factIdCol: String, known: String => Option[Any])

  /** A bridge table whose groups are owned by the fact rows of
    * [[upsertWithBridge]]: the group of a fact row is every bridge row
    * whose `keyCol` equals the fact's `keyCol`, and `members(row)` are
    * the `valueCol` values that replace it (a NULL member is written
    * as a NULL `valueCol`; no members leaves the group empty).
    */
  final case class BridgeSpec(table: String, keyCol: String, valueCol: String,
      members: Row => Iterable[Any])

  /** One partition's dimension lookups: a fact row gets its name's id
    * appended as `factIdCol`. A name missing from the snapshot is got
    * or created the reference's race-safe way (task.go:13-45):
    * INSERT-if-absent, then re-read the id by name. That runs on a
    * connection of its own, opened at the first miss and left in
    * autocommit, so the new row commits at once and no partition holds
    * a dimension lock across its fact transaction. When two partitions
    * race for a new name, the loser's INSERT fails on the unique name
    * (SQLState 23505, Derby's emulated INSERT-if-absent) — the row is
    * there, and the re-read finds it.
    */
  private final class DimensionIds(dim: DimensionSpec, insertIfAbsent: MergePlan,
      cf: ConnFactory) extends AutoCloseable {
    private val created = mutable.HashMap.empty[String, Any]
    private val nameSchema = StructType(Seq(StructField(dim.nameCol, StringType)))
    private var factSchema: StructType = _
    private var conn: Connection = _
    private var byName: PreparedStatement = _

    /** `fact` with its dimension id appended. */
    def bind(fact: Row): Row = {
      if (factSchema == null) factSchema = fact.schema.add(dim.factIdCol, IntegerType)
      val name = fact.getAs[String](dim.nameCol)
      val id = if (name == null) null
        else dim.known(name).getOrElse(created.getOrElseUpdate(name, getOrCreate(name)))
      new GenericRowWithSchema((fact.toSeq :+ id).toArray, factSchema)
    }

    private def getOrCreate(name: String): Any = {
      if (conn == null) {
        conn = cf()
        conn.setAutoCommit(true)
        byName = conn.prepareStatement(
          s"SELECT ${dim.idCol} FROM ${dim.table} WHERE ${dim.nameCol} = ?")
      }
      try mergeRows(Iterator(new GenericRowWithSchema(Array[Any](name), nameSchema)),
        insertIfAbsent, conn)
      catch { case e: SQLException if e.getSQLState == "23505" => () }
      byName.setString(1, name)
      val rs = byName.executeQuery()
      try {
        if (!rs.next()) throw new IllegalStateException(
          s"${dim.table}: no row named '$name' after INSERT-if-absent")
        rs.getObject(1)
      } finally rs.close()
    }

    override def close(): Unit = if (conn != null) conn.close()
  }

  /** Fact MERGE fused with the dimension it names and the bridge
    * rewrite it owns (K4, K3 and K5, in K7 order).
    *
    * One pass per partition, one transaction per partition. Per
    * `BatchSize` chunk of fact rows: the names the dimension snapshot
    * lacks are created ([[DimensionIds]], committed outside the
    * transaction), then the chunk's MERGE, the batched DELETE of the
    * chunk's keys, then the batched INSERT of their members — so a
    * bridge row is only ever written after its fact row, in the same
    * transaction. Rows must be key-unique (A4): each fact row owns its
    * whole group, so a group never spans partitions and no repartition
    * is needed to keep groups whole.
    *
    * The DELETE binds one key per statement: with an index on the key,
    * each one touches only its own group's rows, so concurrent
    * partitions never wait on each other (Derby's unindexed heap scan
    * locks every row it reads, and two such scans deadlock).
    */
  def upsertWithBridge(df: DataFrame, spec: MergeSpec, dim: DimensionSpec,
      bridge: BridgeSpec, dialect: SqlDialect, cf: ConnFactory): Unit = {
    val plan = dialect.mergePlan(spec)
    val dimPlan = dialect.insertIgnorePlan(dim.table, Seq(dim.nameCol), Seq(dim.nameCol))
    val insertSql = dialect.insertSql(bridge.table, Seq(bridge.keyCol, bridge.valueCol))
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val ids = new DimensionIds(dim, dimPlan, cf)
        val conn = cf()
        try inTxn(conn) {
          val del = conn.prepareStatement(
            dialect.deleteGroupsSql(bridge.table, bridge.keyCol, 1))
          val ins = conn.prepareStatement(insertSql)
          try {
            it.grouped(BatchSize).foreach { facts =>
              val chunk = facts.map(ids.bind)
              mergeRows(chunk.iterator, plan, conn)
              chunk.foreach { r =>
                setParam(del, 1, r.getAs[Any](bridge.keyCol), conn)
                del.addBatch()
              }
              del.executeBatch()
              var pending = 0
              chunk.foreach { r =>
                val k = r.getAs[Any](bridge.keyCol)
                bridge.members(r).foreach { v =>
                  setParam(ins, 1, k, conn)
                  setParam(ins, 2, v, conn)
                  ins.addBatch()
                  pending += 1
                  if (pending >= BatchSize) { ins.executeBatch(); pending = 0 }
                }
              }
              if (pending > 0) ins.executeBatch()
            }
          } finally { del.close(); ins.close() }
        } finally ids.close()
      }
    }
  }
}
