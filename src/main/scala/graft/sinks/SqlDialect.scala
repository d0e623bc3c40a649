package graft.sinks

/** Executable MERGE strategy, produced by a dialect from a [[MergeSpec]].
  *
  * `params` sequences name the spec column bound to each `?`, in
  * order — a column may appear multiple times (null-safe compares bind
  * the same value twice).
  */
sealed trait MergePlan extends Serializable

/** One upsert statement, JDBC-batchable (Postgres ON CONFLICT). */
final case class SingleStatementMerge(sql: String, params: Seq[String])
  extends MergePlan

/** Classic three-step emulation for stores without a usable MERGE
  * source-expression (Derby): UPDATE → if no row updated, existence
  * check → INSERT. Update-count 0 with the row present means the
  * skip-if-identical guard held — exactly the reference's "skip" leg.
  */
final case class UpdateThenInsertMerge(
    updateSql: String, updateParams: Seq[String],
    existsSql: String, existsParams: Seq[String],
    insertSql: String, insertParams: Seq[String]) extends MergePlan

/** SQL generation per target store. [[PostgresDialect]] is the
  * production target (the reference's store — SQL shapes mirror
  * /root/reference/internal/repository/ employee.go, task.go,
  * scraper_status.go). [[DerbyDialect]] exists
  * so the sink has a real in-JVM integration test (Derby ships with
  * Spark; its MERGE only accepts base tables as source, hence the
  * emulation plan).
  */
trait SqlDialect extends Serializable {
  def mergePlan(spec: MergeSpec): MergePlan

  /** INSERT-if-absent for dimension get-or-create (task.go:25-29). */
  def insertIgnorePlan(table: String, cols: Seq[String],
      conflictCols: Seq[String]): MergePlan

  /** DELETE of all rows of one group — the first half of a changed
    * bridge group's overwrite (task.go:132).
    */
  def deleteGroupsSql(table: String, groupCol: String): String =
    s"DELETE FROM $table WHERE $groupCol IN (?)"

  /** The stored rows of `n` groups, as (group key, member) pairs — the
    * read that lets the bridge writer skip a group whose members are
    * unchanged. It runs after the fact rows owning the groups are
    * locked, so it must not wait on other transactions' locks; a
    * dialect whose plain read can wait adds an isolation clause.
    */
  def readGroupsSql(table: String, groupCol: String, valueCol: String, n: Int): String =
    s"SELECT $groupCol, $valueCol FROM $table WHERE $groupCol IN (${Seq.fill(n)("?").mkString(", ")})"

  def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${Seq.fill(cols.size)("?").mkString(", ")})"
}

/** Production dialect — matches the reference's SQL shapes
  * (`INSERT … ON CONFLICT … DO UPDATE`, task.go:81-113).
  */
object PostgresDialect extends SqlDialect {

  private def distinctFrom(t: String, cols: Seq[String]): String =
    s"(${cols.map(c => s"$t.$c").mkString(", ")}) IS DISTINCT FROM (${cols.map(c => s"EXCLUDED.$c").mkString(", ")})"

  override def mergePlan(spec: MergeSpec): MergePlan = {
    val sets = spec.updateCols.map(c => s"$c = EXCLUDED.$c") ++
      spec.preserves.map { p =>
        s"${p.col} = CASE WHEN ${spec.table}.${p.guardCol} IS DISTINCT FROM EXCLUDED.${p.guardCol} " +
          s"THEN ${p.resetSql} ELSE ${spec.table}.${p.col} END"
      } ++
      spec.touchCol.map(c => s"$c = CURRENT_TIMESTAMP")
    val where =
      if (spec.skipIfIdentical) s" WHERE ${distinctFrom(spec.table, spec.updateCols)}"
      else ""
    SingleStatementMerge(
      s"INSERT INTO ${spec.table} (${spec.insertCols.mkString(", ")}) " +
        s"VALUES (${Seq.fill(spec.insertCols.size)("?").mkString(", ")}) " +
        s"ON CONFLICT (${spec.keyCols.mkString(", ")}) DO UPDATE SET ${sets.mkString(", ")}$where",
      spec.insertCols)
  }

  override def insertIgnorePlan(table: String, cols: Seq[String],
      conflictCols: Seq[String]): MergePlan =
    SingleStatementMerge(
      s"INSERT INTO $table (${cols.mkString(", ")}) " +
        s"VALUES (${Seq.fill(cols.size)("?").mkString(", ")}) " +
        s"ON CONFLICT (${conflictCols.mkString(", ")}) DO NOTHING",
      cols)
}

/** Test dialect (Derby, in /opt/spark/jars). Derby lacks both
  * `ON CONFLICT` and `IS DISTINCT FROM`, and its MERGE refuses VALUES
  * sources — so: update-then-insert, with null-safe compares expanded
  * manually. UPDATE SET expressions see pre-update row values (SQL
  * semantics), so the preserve-CASE comparing the stored guard against
  * the incoming parameter is valid even while the guard itself is
  * being set.
  */
object DerbyDialect extends SqlDialect {

  /** null-safe "differs" with the incoming value bound THREE times.
    * The compact form NOT(a = ? OR (a IS NULL AND ? IS NULL)) is wrong
    * under three-valued logic: with exactly one side NULL, `a = ?` is
    * UNKNOWN, so the whole predicate is UNKNOWN and the UPDATE matches
    * zero rows — NULL→value transitions would be silently dropped (and
    * the geo-preserve CASE would wrongly preserve). Fully expanded
    * instead: each disjunct is TRUE/FALSE in every null combination.
    */
  private def differsParam(a: String): String =
    s"(($a IS NULL AND ? IS NOT NULL) OR (? IS NULL AND $a IS NOT NULL) OR $a <> ?)"

  override def mergePlan(spec: MergeSpec): MergePlan = {
    val t = spec.table
    val setParts = spec.updateCols.map(c => s"$c = ?" -> Seq(c)) ++
      spec.preserves.map { p =>
        (s"${p.col} = CASE WHEN ${differsParam(s"$t.${p.guardCol}")} " +
          s"THEN ${p.resetSql} ELSE $t.${p.col} END") ->
          Seq(p.guardCol, p.guardCol, p.guardCol)
      } ++
      spec.touchCol.map(c => s"$c = CURRENT_TIMESTAMP" -> Seq.empty[String])
    val whereKeys = spec.keyCols.map(k => s"$k = ?" -> Seq(k))
    val skipGuard =
      if (spec.skipIfIdentical)
        Seq(("(" + spec.updateCols.map(c => differsParam(s"$t.$c")).mkString(" OR ") + ")")
          -> spec.updateCols.flatMap(c => Seq(c, c, c)))
      else Nil
    val updateSql = s"UPDATE $t SET ${setParts.map(_._1).mkString(", ")} " +
      s"WHERE ${(whereKeys ++ skipGuard).map(_._1).mkString(" AND ")}"
    val updateParams = (setParts ++ whereKeys ++ skipGuard).flatMap(_._2)
    UpdateThenInsertMerge(
      updateSql, updateParams,
      s"SELECT 1 FROM $t WHERE ${spec.keyCols.map(k => s"$k = ?").mkString(" AND ")}",
      spec.keyCols,
      insertSql(t, spec.insertCols), spec.insertCols)
  }

  override def insertIgnorePlan(table: String, cols: Seq[String],
      conflictCols: Seq[String]): MergePlan =
    UpdateThenInsertMerge(
      // no-op update that can never match (guard 1=0): straight to exists+insert
      s"UPDATE $table SET ${cols.head} = ${cols.head} WHERE 1 = 0", Seq.empty,
      s"SELECT 1 FROM $table WHERE ${conflictCols.map(k => s"$k = ?").mkString(" AND ")}",
      conflictCols,
      insertSql(table, cols), cols)

  /** `WITH UR`: Derby's READ COMMITTED scan waits on every uncommitted
    * row it meets, including other partitions' uncommitted rows of
    * other groups, and two such scans deadlock. An uncommitted read
    * takes no locks, and the groups it returns are owned by fact rows
    * this transaction has already locked.
    */
  override def readGroupsSql(table: String, groupCol: String, valueCol: String,
      n: Int): String =
    super.readGroupsSql(table, groupCol, valueCol, n) + " WITH UR"
}
