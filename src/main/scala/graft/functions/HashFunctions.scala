package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * The dedup/similarity operators need numeric hashes that the DuckDB
  * oracle can reproduce bit-for-bit. Spark's native `hash`/`xxhash64`
  * are Spark-specific, so the portable path derives a 60-bit integer
  * from an md5 prefix (md5 is identical everywhere). The family of
  * seeded hashes is then generated by affine maps modulo a prime —
  * one md5 per value regardless of family size, and every coefficient
  * stays < 2^30 so products stay < 2^60: no 64-bit overflow, which
  * matters because DuckDB errors on BIGINT overflow while Spark wraps
  * silently.
  *
  * For Spark-only hot paths (no oracle in the loop) prefer
  * `xxhash64` — codegen'd, no string materialization.
  */
object HashFunctions {

  /** Modulus for all portable hash arithmetic (< 2^30). */
  val P = 1000000007L

  /** 60-bit integer from the md5 prefix — portable to DuckDB as
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`. Computed by the
    * fused [[graft.expressions.Md5Prefix60]] kernel (bit-identical to
    * `conv(substring(md5(x),1,15),16,10)`, cross-checked in tests).
    */
  def md5Long(c: Column): Column =
    graft.expressions.Md5Prefix60(c.cast("string"))

  /** md5Long reduced mod P — the base for seeded families. */
  def md5Mod(c: Column): Column = md5Long(c) % P

  /** i-th member of the affine hash family over a precomputed base
    * (= [[md5Mod]] of the value): `((2i+1)·base + 7919·i + 13) mod P`.
    */
  def seeded(base: Column, i: Int): Column =
    (base * lit(2L * i + 1) + lit(7919L * i + 13)) % P
}
