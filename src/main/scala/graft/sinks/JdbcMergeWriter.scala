package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}

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
  * [[upsertWithBridge]] adds the bridge-table rewrite (K5) to the
  * fact MERGE in the same pass: the fact rows are key-unique, so each
  * one owns its bridge group and the partition holding the fact row
  * holds the whole group. Its DELETE + INSERT commit atomically with
  * the fact row — an idempotent group overwrite, ordered fact →
  * DELETE → INSERT within every chunk (K7).
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

  private def inTxn(conn: Connection)(body: => Unit): Unit =
    try {
      conn.setAutoCommit(false)
      body
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.close()

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

  /** A bridge table whose groups are owned by the fact rows of
    * [[upsertWithBridge]]: the group of a fact row is every bridge row
    * whose `keyCol` equals the fact's `keyCol`, and `members(row)` are
    * the `valueCol` values that replace it (a NULL member is written
    * as a NULL `valueCol`; no members leaves the group empty).
    */
  final case class BridgeSpec(table: String, keyCol: String, valueCol: String,
      members: Row => Iterable[Any])

  /** Fact MERGE fused with the bridge rewrite it owns (K5 after K2/K3,
    * in K7 order).
    *
    * One pass per partition, one transaction per partition. Per
    * `BatchSize` chunk of fact rows: the chunk's MERGE, the batched
    * DELETE of the chunk's keys, then the batched INSERT of their
    * members — so a bridge row is only ever written after its fact
    * row, in the same transaction. Rows must be key-unique (A4): each
    * fact row owns its whole group, so a group never spans partitions
    * and no repartition is needed to keep groups whole.
    *
    * The DELETE binds one key per statement: with an index on the key,
    * each one touches only its own group's rows, so concurrent
    * partitions never wait on each other (Derby's unindexed heap scan
    * locks every row it reads, and two such scans deadlock).
    */
  def upsertWithBridge(df: DataFrame, spec: MergeSpec, bridge: BridgeSpec,
      dialect: SqlDialect, cf: ConnFactory): Unit = {
    val plan = dialect.mergePlan(spec)
    val insertSql = dialect.insertSql(bridge.table, Seq(bridge.keyCol, bridge.valueCol))
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conn = cf()
        inTxn(conn) {
          val del = conn.prepareStatement(
            dialect.deleteGroupsSql(bridge.table, bridge.keyCol, 1))
          val ins = conn.prepareStatement(insertSql)
          try {
            it.grouped(BatchSize).foreach { chunk =>
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
        }
      }
    }
  }

  /** Dimension get-or-create (K4, task.go:13-45): INSERT-if-absent the
    * distinct names, race-safe by the store's conflict handling. Names
    * are collected to the driver — a dimension is small by definition
    * (SURVEY.md §2.2 K4 keeps id assignment in the store's serial,
    * never in Spark).
    */
  def ensureDimension(names: Seq[String], table: String, nameCol: String,
      dialect: SqlDialect, cf: ConnFactory): Unit = {
    if (names.nonEmpty) {
      val plan = dialect.insertIgnorePlan(table, Seq(nameCol), Seq(nameCol))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(nameCol,
          org.apache.spark.sql.types.StringType)))
      val rows = names.distinct.map(n =>
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any](n), schema): Row)
      val conn = cf()
      inTxn(conn) { mergeRows(rows.iterator, plan, conn) }
    }
  }
}
