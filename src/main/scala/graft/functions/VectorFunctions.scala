package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns.
  *
  * Everything folds left-to-right in double precision —
  * `((0+p₁)+p₂)+…` — the exact order DuckDB's
  * `list_reduce(list_prepend(0.0, products))` uses, so scores are
  * bit-identical across engines and rankings never diverge on
  * near-ties. (A SIMD/tree reduction would be faster but
  * order-sensitive; at 64-dim the difference is noise.)
  *
  * All codegen-friendly `functions._` higher-order expressions: the
  * hot similarity loops stay inside WholeStageCodegen, distribute
  * trivially, and never touch the driver.
  */
object VectorFunctions {

  /** `array<float>` → `array<double>` (cast per element, exact). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product in double precision, left fold — fused codegen'd
    * expression ([[graft.expressions.VectorDotProduct]]); ~10× less
    * per-pair overhead than the built-in `aggregate(zip_with(…))` fold.
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorDotProduct.dot(a, b)

  /** Squared L2 norm. */
  def normSq(v: Column): Column = dot(v, v)

  /** Cosine given precomputed squared norms (the form the top-k
    * operators use: norms are computed once per row, not per pair).
    */
  def cosinePrenormed(dotAb: Column, normSqA: Column, normSqB: Column): Column =
    dotAb / (sqrt(normSqA) * sqrt(normSqB))
}
