package graft.expressions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** LSH band keys from a hashed shingle set, fused into one array scan.
  *
  * Replaces the per-row HOF formulation
  * `array_min(transform(set, h => seeded(h, i)))` × k followed by
  * k/rowsPerBand `concat_ws` calls — a chain of 2k+ CodegenFallback
  * HOF nodes that re-walks the set k times and boxes every
  * intermediate. Here one pass over the set updates all k seeded
  * minima (`seeded(h,i) = ((2i+1)·h + 7919·i + 13) mod P`, the same
  * affine family as [[graft.functions.HashFunctions.seeded]]).
  * Internal callers feed md5-mod-P elements < 2³⁰, for which the
  * affine products stay < 2⁶³ directly; elements outside [0, P) —
  * possible only via the SQL surface's caller-supplied bigint
  * arrays — are first reduced mod P (floorMod, so negatives land in
  * [0, P) too), which keeps the arithmetic overflow-free for the
  * full int64 domain. A DuckDB oracle reproducing the raw affine
  * formula matches byte-for-byte on the internal < 2³⁰ domain;
  * out-of-domain bigint callers must apply the same `((h % P) + P)
  * % P` pre-reduction on the oracle side. Band keys are rendered
  * directly as `"b:s:s"` — byte-identical to a `concat_ws(":", b,
  * sig…)` key over min-over-explode signatures (the reference pinned
  * in `MinHashBandsSpec`).
  *
  * Accepts array<int> (the shingle sets' storage type) or
  * array<bigint> (caller-supplied hash arrays) — elements promote to
  * int64 before the affine arithmetic, so both produce identical keys
  * for identical values.
  *
  * Edge parity with the HOF chain it replaces: null elements are
  * skipped (as `array_min` skips them), and an EMPTY or NULL set
  * yields keys with no signature parts (`"0"`, `"1"`, …) exactly as
  * `concat_ws` skips the null `array_min` results — such keys can
  * never match a corpus key (always `"b:…"`), so empty docs pass the
  * near-dup gate. The null case makes this expression deliberately
  * NON-null-propagating (`nullable = false`).
  */
case class MinHashBands(child: Expression, k: Int, rowsPerBand: Int)
    extends UnaryExpression {

  require(k >= 1 && rowsPerBand >= 1 && k % rowsPerBand == 0,
    s"k=$k must be a positive multiple of rowsPerBand=$rowsPerBand — a " +
      "remainder would silently drop the trailing signatures from every band")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = false

  private def isInt = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<int> or array<bigint>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => MinHashBands.computeEmpty(k, rowsPerBand)
    case v if isInt =>
      MinHashBands.computeInt(v.asInstanceOf[ArrayData], k, rowsPerBand)
    case v => MinHashBands.compute(v.asInstanceOf[ArrayData], k, rowsPerBand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val m = if (isInt) "computeInt" else "compute"
    val out = ctx.freshName("bands")
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData $out = ${c.isNull}
        ? graft.expressions.MinHashBands.computeEmpty($k, $rowsPerBand)
        : graft.expressions.MinHashBands.$m(${c.value}, $k, $rowsPerBand);
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = $out;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  private val P = 1000000007L

  // Named `compute`, not `eval`: the case class inherits Expression.eval,
  // which suppresses scalac's static forwarder — Janino then fails to
  // resolve the static call and Spark silently falls back to interpreted.
  def compute(set: ArrayData, k: Int, rowsPerBand: Int): ArrayData =
    render(minsOf(set, k, longAt), k, rowsPerBand)

  def computeInt(set: ArrayData, k: Int, rowsPerBand: Int): ArrayData =
    render(minsOf(set, k, intAt), k, rowsPerBand)

  def computeEmpty(k: Int, rowsPerBand: Int): ArrayData =
    render(null, k, rowsPerBand)

  private val longAt: (ArrayData, Int) => Long = (a, i) => a.getLong(i)
  private val intAt: (ArrayData, Int) => Long = (a, i) => a.getInt(i).toLong

  /** All k seeded minima in one pass; null when no non-null element. */
  private def minsOf(set: ArrayData, k: Int,
      at: (ArrayData, Int) => Long): Array[Long] = {
    val m = set.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    var i = 0
    while (i < m) {
      if (!set.isNullAt(i)) {
        seen = true
        val h0 = at(set, i)
        // Elements are md5-mod-P values < 2³⁰ on every internal path,
        // so this branch is never taken there; it makes the SQL
        // surface (graft_minhash_bands over caller-supplied bigint
        // arrays) total — without it, h near 2⁶³ overflows the affine
        // products into negative minima and keys like "0:-123".
        val h = if (h0 >= 0L && h0 < P) h0 else java.lang.Math.floorMod(h0, P)
        var s = 0
        while (s < k) {
          val v = (h * (2L * s + 1) + (7919L * s + 13)) % P
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    if (seen) mins else null
  }

  private def render(mins: Array[Long], k: Int, rowsPerBand: Int): ArrayData = {
    val nb = k / rowsPerBand
    val out = new Array[Any](nb)
    val sb = new java.lang.StringBuilder(4 + 11 * rowsPerBand)
    var b = 0
    while (b < nb) {
      sb.setLength(0)
      sb.append(b)
      if (mins != null) {
        var r = 0
        while (r < rowsPerBand) {
          sb.append(':').append(mins(b * rowsPerBand + r))
          r += 1
        }
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(set: Column, k: Int, rowsPerBand: Int): Column =
    GraftColumnBridge.column(MinHashBands(
      GraftColumnBridge.expression(set), k, rowsPerBand))
}
