package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch content hashing — the hash-gate (T8, SURVEY.md §2.3).
  *
  * The reference's upstream supplies a server-side content hash and the
  * client skips the batch when it matches the last known one
  * (/root/reference/internal/services/employees/employees.go:97-101,
  * tasks.go:151-153). When the source does NOT supply hashes, the
  * engine recomputes one over the batch: [[orderedHash]], md5 over the
  * sorted row renderings. Exact and stable, but funnels the batch
  * through one aggregation row — correct for micro-batch-sized inputs
  * (the reference's batches are one day of tasks / one roster), NOT
  * for 100 TB tables.
  */
object ContentHash {

  private def rowRendering(cols: Seq[Column]): Column =
    concat_ws("", cols.map(_.cast("string")): _*)

  /** One-row DataFrame `(content_hash string)`. Small batches only. */
  def orderedHash(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.select(rowRendering(cols).as("__row"))
      .agg(md5(array_join(array_sort(collect_list(col("__row"))), ""))
        .as("content_hash"))

  /** Driver-side gate: true ⇒ process the batch, false ⇒ skip.
    * Mirrors `len==0 || lastKnownHash == newHash ⇒ skip`
    * (employees.go:97-101).
    */
  def shouldProcess(newHash: Option[String], lastKnown: Option[String],
      batchNonEmpty: Boolean): Boolean =
    batchNonEmpty && (lastKnown.isEmpty || newHash != lastKnown)
}
