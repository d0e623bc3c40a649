package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Timestamp}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{col, count, count_if, lit, max_by,
  monotonically_increasing_id, struct}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.sources.LocalRows

/** JDBC MERGE writer — the `foreachBatch` body of the pipelines
  * (SURVEY.md §7.2: Spark's native jdbc writer can't MERGE, so this is
  * custom by necessity).
  *
  * A write takes a raw batch and the batch's transform, stated as
  * columns (`transform`; none writes the batch as it is). The sink
  * writes the rows `batch.select(transform)` holds.
  *
  * Distribution model: two shapes, one writer. Each write builds one
  * writer function over an iterator of rows — open one connection,
  * prepare the statements once, stream the rows through inside a
  * single transaction — and [[writeBatch]] picks where it runs, by the
  * batch's analyzed plan:
  *  - a driver-resident batch (a `LocalRelation`, such as a polled
  *    snapshot passed to `createDataFrame`) has its transform evaluated
  *    on the driver by [[graft.sources.LocalRows.project]]: the columns
  *    are analyzed and bound once per input schema and session
  *    configuration, and each batch's rows go straight through the
  *    bound projection, with no `Dataset` made and no analyzer run. The
  *    writer function runs once over the rows. No query is planned and
  *    no Spark job runs. The rows are a projection of a `Seq` the
  *    caller already holds, so the driver memory this takes is bounded
  *    by what the caller already holds. A batch with no transform is
  *    written as it is ([[graft.sources.LocalRows.of]]);
  *  - any other plan (a file-source micro-batch, a parquet read, a
  *    filter over a local frame), or a transform with a
  *    nondeterministic column, runs `batch.select(transform)` and the
  *    writer function per partition on the executors, through
  *    `foreachPartition`.
  * No global transaction exists across partitions (neither does one in
  * the reference, which writes row-by-row); replay safety comes from
  * the MERGE being idempotent, the same argument the reference makes
  * (SURVEY.md §2.6 "Progress/exactly-once").
  *
  * A batch may repeat a key: the writer gets the last row per key in
  * delivery order (A4), as the reference's row-at-a-time upserts leave
  * it (see [[lastPerKey]]).
  *
  * [[upsertWithBridge]] writes a fact table with its dimension (K4)
  * and its bridge table (K5) in the same pass, in K7 order within
  * every chunk: dimension → fact → read of the stored groups → DELETE
  * and INSERT of the changed groups. A fact row's dimension name
  * resolves through the driver's snapshot; a name the snapshot lacks
  * is created on a separate autocommit connection, so a new dimension
  * row commits at once and is never held across a fact transaction.
  * The fact rows are key-unique, so each one owns its bridge group and
  * the partition holding the fact row holds the whole group: a group
  * whose members changed is replaced in the fact row's transaction,
  * and one whose members did not is left unwritten — either way a
  * replay leaves the group as it is.
  */
object JdbcMergeWriter {

  type ConnFactory = () => Connection

  /** What a write was handed, counted before the A4 dedup: `rows` in
    * all, and the `flagged` ones whose boolean flag column is true.
    */
  final case class Tally(rows: Long, flagged: Long)

  def connFactory(url: String): ConnFactory = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  private val BatchSize = 500

  /** Keys per stored-group read (see [[storedGroups]]). */
  private val ReadWidth = 128

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

  /** Runs `write` over the last row per `keyCols` of
    * `batch.select(transform)` (of `batch` itself when `transform` is
    * empty), in one of the two shapes of the object doc: once on the
    * driver over the rows `LocalRows.project` evaluates when they are
    * driver-resident, with no query planned, else once per partition
    * through `foreachPartition`. Returns the tally of the rows as
    * delivered; `flag` names a boolean column of the transformed rows.
    * On the driver the tally comes from the evaluated rows; on the
    * executors it rides on the write's own jobs (`Dataset.observe`; a
    * driver-resident batch is never observed: with no job, the
    * observation would never complete).
    */
  private def writeBatch(batch: DataFrame, transform: Seq[Column], keyCols: Seq[String],
      flag: Option[String])(write: Iterator[Row] => Unit): Tally =
    LocalRows.project(batch, transform) match {
      case Some(rows) =>
        write(lastPerKey(rows, keyCols))
        Tally(rows.length, flag.fold(0L)(f => rows.count(_.getAs[Boolean](f)).toLong))
      case None =>
        val df = if (transform.isEmpty) batch else batch.select(transform: _*)
        val seen = Observation()
        lastPerKey(df.observe(seen, count(lit(1)).as("rows"),
          count_if(flag.fold(lit(false))(col)).as("flagged")), keyCols).foreachPartition(write)
        val m = seen.get
        Tally(m("rows").asInstanceOf[Long], m("flagged").asInstanceOf[Long])
    }

  /** The last of `rows` per key, in the order of each key's first row. */
  private def lastPerKey(rows: Seq[Row], keyCols: Seq[String]): Iterator[Row] =
    if (rows.isEmpty) Iterator.empty
    else {
      val keys = keyCols.map(rows.head.fieldIndex)
      val last = mutable.LinkedHashMap.empty[Seq[Any], Row]
      rows.foreach(r => last(keys.map(r.get)) = r)
      last.valuesIterator
    }

  /** The last row of `df` per key in delivery order, through a
    * `max_by` over a row ordinal (`monotonically_increasing_id`:
    * partition index, then position in the partition). The ordinal
    * follows delivery order within each input partition and across
    * the splits of one file, which Spark reads in order. Across the
    * files of one micro-batch it follows Spark's split order
    * (largest split first), not the order the files landed in: a key
    * repeated in two files of one micro-batch keeps the row of the
    * file Spark reads last.
    */
  private[graft] def lastPerKey(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val ordinal = "_graft_delivery"
    df.withColumn(ordinal, monotonically_increasing_id())
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(df.columns.toSeq.map(col): _*), col(ordinal)).as("last"))
      .select("last.*")
  }

  /** MERGE every row of `batch.select(transform)` (of `batch` when
    * `transform` is empty) through `spec` — K1/K2/K3/K6 semantics, the
    * last row per key when a key repeats (A4). `flag` names a boolean
    * column of the transformed rows to tally (see [[Tally]]); columns
    * the MERGE does not bind are not written.
    */
  def upsert(batch: DataFrame, spec: MergeSpec, dialect: SqlDialect,
      cf: ConnFactory, flag: Option[String] = None, transform: Seq[Column] = Nil): Tally = {
    val plan = dialect.mergePlan(spec) // built driver-side; plan is Serializable
    writeBatch(batch, transform, spec.keyCols, flag) { it =>
      if (it.hasNext) {
        val conn = cf()
        inTxn(conn) { mergeRows(it, plan, conn) }
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
    * groups it owns (K4, K3 and K5, in K7 order). The fact rows are
    * `batch.select(transform)`, or `batch` when `transform` is empty.
    *
    * One pass and one transaction per partition, or one of each on the
    * driver for a local batch. Per `BatchSize` chunk of fact rows: the
    * names the dimension snapshot lacks are created ([[DimensionIds]],
    * committed outside the transaction), then the chunk's MERGE, then
    * the read of the chunk's stored groups, then the DELETE and INSERT
    * of the groups that changed — so a bridge row is only ever written
    * after its fact row, in the same transaction. The writer gets one
    * fact row per key (A4): each fact row owns its whole group, so a
    * group never spans partitions and no repartition is needed to keep
    * groups whole.
    *
    * A group is rewritten only when its stored members differ from the
    * fact row's `members` as a multiset: order does not count, repeats
    * and NULL members do. An unchanged group is not written at all (the
    * reference's skip-if-identical, T6, carried to K5; the reference
    * itself rewrites every group, task.go:125-151); a group with no
    * stored rows gets its INSERTs and no DELETE. The fact MERGE still
    * re-stamps every fact row, so the store ends as a full rewrite
    * would leave it, and a replay writes nothing new (idempotent).
    * Members and keys compare with Scala's `==`, so an `Int` id equals
    * the same id read back as a `Long`.
    *
    * The read is race-free: it runs after the chunk's fact MERGE, and
    * every writer of a group locks the group's fact row first, so no
    * other transaction can change the group between the read and this
    * transaction's commit. So the read must never wait on other
    * transactions' locks: on Postgres a plain read does not (MVCC);
    * Derby reads uncommitted (see `DerbyDialect.readGroupsSql`).
    *
    * The read has one SQL text, whatever the chunk size: it is prepared
    * once per write at [[ReadWidth]] keys and reused for every slice of
    * every chunk ([[storedGroups]]). A text per key count would make
    * Derby compile a new class for each batch size it meets, and the
    * JVM interprets each such class until it is hot. The width stays
    * well below the list length at which Derby's reads turn slow even
    * when hot.
    *
    * The DELETE binds one key per statement: with an index on the key,
    * each one touches only its own group's rows, so concurrent
    * partitions never wait on each other (Derby's unindexed heap scan
    * locks every row it reads, and two such scans deadlock).
    */
  def upsertWithBridge(batch: DataFrame, spec: MergeSpec, dim: DimensionSpec,
      bridge: BridgeSpec, dialect: SqlDialect, cf: ConnFactory,
      transform: Seq[Column] = Nil): Tally = {
    val plan = dialect.mergePlan(spec)
    val dimPlan = dialect.insertIgnorePlan(dim.table, Seq(dim.nameCol), Seq(dim.nameCol))
    val insertSql = dialect.insertSql(bridge.table, Seq(bridge.keyCol, bridge.valueCol))
    writeBatch(batch, transform, spec.keyCols, None) { it =>
      if (it.hasNext) {
        val ids = new DimensionIds(dim, dimPlan, cf)
        val conn = cf()
        try inTxn(conn) {
          val del = conn.prepareStatement(
            dialect.deleteGroupsSql(bridge.table, bridge.keyCol))
          val ins = conn.prepareStatement(insertSql)
          val read = conn.prepareStatement(
            dialect.readGroupsSql(bridge.table, bridge.keyCol, bridge.valueCol, ReadWidth))
          try {
            it.grouped(BatchSize).foreach { facts =>
              val chunk = facts.map(ids.bind)
              mergeRows(chunk.iterator, plan, conn)
              val stored = storedGroups(read, chunk.map(_.getAs[Any](bridge.keyCol)), conn)
              val changed = chunk.flatMap { r =>
                val k = r.getAs[Any](bridge.keyCol)
                val members = bridge.members(r)
                val old = stored.getOrElse(k, Map.empty[Any, Int])
                if (multiset(members) == old) None else Some((k, members, old.nonEmpty))
              }
              val stale = changed.collect { case (k, _, true) => k }
              if (stale.nonEmpty) {
                stale.foreach { k => setParam(del, 1, k, conn); del.addBatch() }
                del.executeBatch()
              }
              var pending = 0
              changed.foreach { case (k, members, _) =>
                members.foreach { v =>
                  setParam(ins, 1, k, conn)
                  setParam(ins, 2, v, conn)
                  ins.addBatch()
                  pending += 1
                  if (pending >= BatchSize) { ins.executeBatch(); pending = 0 }
                }
              }
              if (pending > 0) ins.executeBatch()
            }
          } finally { del.close(); ins.close(); read.close() }
        } finally ids.close()
      }
    }
  }

  /** The stored members of each of `keys`' groups, as a multiset per
    * group key; a group with no rows is absent. `read` is the dialect's
    * `readGroupsSql` at [[ReadWidth]] keys; it runs once per slice of
    * `ReadWidth` keys, and the last slice is padded by repeating its
    * last key. A repeated IN value returns no extra rows, and the keys
    * are unique (one fact row per key, A4), so no group is read twice.
    *
    * Why the width is fixed, and why at 128: Derby compiles each SQL
    * text it meets into a generated class, and the JVM interprets that
    * class until it is hot. With the key count as the width, a store
    * whose batches keep changing size ran most reads cold: on a
    * 1,120-row store, widths changing every 9 reads took a median 10 ms
    * a read, one padded width 1.7 ms. Wide lists are slow even when
    * hot: in Derby stores of 1,120 and 20,000 rows a hot read took
    * 1–3 ms at 128 keys and 40–840 ms at 300 keys, with or without
    * HotSpot's huge-method limit (see
    * `bench_evidence/fixed_width_read_width_sweep.txt`). 128 keys stay
    * well below that, and cover a polled tick's task list in one read.
    */
  private def storedGroups(read: PreparedStatement, keys: Seq[Any],
      conn: Connection): Map[Any, Map[Any, Int]] = {
    val rows = Vector.newBuilder[(Any, Any)]
    keys.grouped(ReadWidth).foreach { slice =>
      slice.padTo(ReadWidth, slice.last).zipWithIndex.foreach { case (k, i) =>
        setParam(read, i + 1, k, conn)
      }
      val rs = read.executeQuery()
      try while (rs.next()) rows += (rs.getObject(1) -> rs.getObject(2))
      finally rs.close()
    }
    rows.result().groupMap(_._1)(_._2).view.mapValues(multiset).toMap
  }

  private def multiset(values: Iterable[Any]): Map[Any, Int] =
    values.groupMapReduce(identity)(_ => 1)(_ + _)
}
