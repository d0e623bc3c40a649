package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual skew mitigation — the fallback when AQE's runtime skew-join
  * splitting (enabled by default in [[graft.core.GraftSession]]) can't
  * apply: non-shuffle-join plans, or severe single-key skew known
  * ahead of time.
  *
  * Salting is deterministic where determinism is observable: the salt
  * is xxhash64 over the row's column VALUES (never `rand()`), so
  * replays and retries of a task give every row the same bucket — the
  * same replay-safety argument as the MERGE sink. Hashing all columns
  * (not just the join keys) is what spreads a hot key: rows sharing
  * the key but differing elsewhere land in different buckets.
  *
  * Content hashing cannot spread rows it cannot tell apart. Two
  * degenerate shapes exist:
  *  - a frame whose ONLY columns are the keys (`fact.select("k")`
  *    before a semi-join count) — detected automatically, salt falls
  *    back to `monotonically_increasing_id()`;
  *  - a frame where the hot key's rows are byte-identical duplicates
  *    in their non-key columns too (millions of `('hot', 1)` rows
  *    before a count/sum) — NOT detectable from the schema, so
  *    callers with duplicate-heavy data pass `spread = true` to force
  *    the MIID salt.
  * The MIID fallback is still result-deterministic: indistinguishable
  * rows are interchangeable, so any assignment of them to buckets
  * yields the same result multiset; only the physical distribution
  * varies across replays, which is unobservable in output. Rows that
  * DO differ lose per-row replay-stable placement under `spread` —
  * that is the documented trade.
  */
object Salting {

  /** Salt in [0, saltFactor): content-derived by default
    * (replay-identical per row); MIID-derived when `spread` is set or
    * the frame has no non-key columns (identical rows are
    * interchangeable, so distribution-only).
    */
  private[operators] def contentSalt(df: DataFrame, keys: Seq[String],
      saltFactor: Int, spread: Boolean = false) = {
    val src =
      if (!spread && df.columns.exists(c => !keys.contains(c)))
        xxhash64(df.columns.map(col).toIndexedSeq: _*)
      else xxhash64(monotonically_increasing_id())
    pmod(src, lit(saltFactor)).cast("int")
  }

  /** Skew-safe equi-join: the (large, possibly skewed) fact side gets
    * a salt in [0, saltFactor); the dim side is replicated once per
    * salt value. The join key becomes (keys, salt), splitting each hot
    * key's rows across `saltFactor` reducers. Result is identical to
    * the unsalted join; cost is dim × saltFactor (use for
    * moderate-size dims that are still too big to broadcast).
    */
  def saltedEquiJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      saltFactor: Int, joinType: String = "inner",
      spread: Boolean = false): DataFrame = {
    require(saltFactor > 0)
    // Right/full outer joins are NOT salting-safe: every unmatched dim
    // row is replicated saltFactor times and each replica emits its own
    // null-padded output row. Only fact-preserving join types qualify.
    val allowed = Set("inner", "left", "leftouter", "left_outer",
      "leftsemi", "left_semi", "semi", "leftanti", "left_anti", "anti")
    require(allowed.contains(joinType.toLowerCase),
      s"saltedEquiJoin supports inner/left_outer/left_semi/left_anti, got '$joinType'")
    val salted = fact.withColumn("__salt", contentSalt(fact, keys, saltFactor, spread))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}
