package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.LocalRows

/** Dimension get-or-create (K4,
  * /root/reference/internal/repository/task.go:13-45).
  *
  * The reference does select-by-name → on miss, race-safe
  * insert-ON-CONFLICT-DO-NOTHING → re-select, one name at a time. The
  * dataflow form: distinct incoming names, left-anti against the
  * dimension, assign ids above the current max, append.
  *
  * Id assignment uses `row_number` over a GLOBAL name ordering — an
  * intentional single-partition window. A dimension is small by
  * definition (task types, priorities); if a "dimension" is large
  * enough for that to matter it is a fact table and persistent keys
  * must come from the store's sequence instead (SURVEY.md K4: never
  * `monotonically_increasing_id` for persistent keys — it is
  * partition-dependent and collides across appends). The contract is
  * ENFORCED, not just documented: past `maxNew` new names the call
  * fails with a pointer to store-assigned keys, instead of quietly
  * funneling a fact table through one partition.
  *
  * The guard is an EAGER count at call time, not an expression in the
  * returned plan. A projected `raise_error` is column-pruned together
  * with the id column it protects (e.g. a count-only action needs no
  * columns, so the projection — and the guard — never evaluate;
  * Spark 4.1.2's `RaiseError` is deterministic and unprotected from
  * pruning). The eager form is one tiny aggregate over a set that is
  * dimension-sized by contract, and holds for every action shape.
  */
object Dimension {

  /** Returns the dimension after get-or-create: existing rows plus new
    * names with ids `max(existing)+1 ..` in name order (deterministic).
    *
    * @param dim      current dimension `(idCol, nameCol)`
    * @param incoming any DataFrame containing `nameCol`
    * @param maxNew   cardinality guard on the single-partition id
    *                 assignment: exceeding it throws at CALL time
    *                 (eager count; see class doc for why not a plan
    *                 expression)
    */
  def getOrCreate(dim: DataFrame, incoming: DataFrame,
      idCol: String, nameCol: String, maxNew: Int = 1000000): DataFrame = {
    // Eager localCheckpoint pins ONE evaluation of `incoming`: the
    // guard count and the returned plan both read this materialized
    // snapshot, so a source that mutates between call and action can
    // never slip >maxNew rows past the count into the single-partition
    // id window. The set is dimension-sized by contract, so the
    // materialization is tiny; blocks are freed by the ContextCleaner
    // once the result is GC'd.
    val newNames = incoming.select(nameCol).where(col(nameCol).isNotNull)
      .distinct()
      .join(dim, Seq(nameCol), "left_anti")
      .localCheckpoint()
    val nNew = newNames.count()
    if (nNew > maxNew) throw new IllegalStateException(
      s"Dimension.getOrCreate: $nNew new names exceeds maxNew=$maxNew - a " +
        "'dimension' at this cardinality is a fact table; use store-assigned " +
        "keys (or raise maxNew deliberately)")
    val maxId = dim.agg(coalesce(max(col(idCol)), lit(0)).as("__max_id"))
    val created = newNames
      .withColumn("__rn", row_number().over(Window.orderBy(nameCol)))
      .crossJoin(maxId) // 1-row broadcast, not a real cross product
      .select((col("__max_id") + col("__rn")).cast("int").as(idCol), col(nameCol))
    dim.select(col(idCol).cast("int"), col(nameCol)).unionByName(created)
  }

  /** Driver-side name → id index of a store dimension, for the sink's
    * dimension lookups (`JdbcMergeWriter.DimensionSpec.known`). A
    * dimension is small by definition, so it is read once per batch
    * into a plain map the sink's writer function closes over, like
    * `Bridge.shortnameIndex`: a driver-resident snapshot's columns are
    * read by name, with no `select` and no query (`LocalRows`), any
    * other snapshot's through `collect()`.
    */
  def index(dim: DataFrame, idCol: String, nameCol: String): Map[String, Any] =
    LocalRows.collect(dim, nameCol, idCol)
      .filter(_.getAs[String](nameCol) != null)
      .map(r => r.getAs[String](nameCol) -> r.getAs[Any](idCol)).toMap
}
