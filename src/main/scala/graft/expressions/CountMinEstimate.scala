package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min point estimate as ONE compiled fold:
  * `est(t) = min_d counters[d][h_d(t)]` over a COLLECTED sketch —
  * the kernel of [[graft.operators.CorpusStats.countMinEstimateMapOnly]],
  * in place of an explode(×depth) + broadcast join + re-aggregation
  * (where the probe table pays a vocab-sized exchange just to regroup
  * its own rows). The sketch is bounded at depth·width
  * counters BY CONSTRUCTION — fixed space forever is the count-min
  * contract — so shipping it inside the expression costs what the
  * broadcast hash relation cost, without the join machinery.
  *
  * Hash family, bit-for-bit the portable one
  * ([[graft.functions.HashFunctions]], oracle-replayable):
  * `base = md5prefix60(t) mod P`, `h_d = ((2d+1)·base + 7919d + 13)
  * mod P mod width` — all operands positive and < 2^33, so plain
  * `%`/Long arithmetic reproduces the SQL exactly. Absent counters
  * read 0.
  *
  * Round 17 measured that an interpreted HOF fold LOSES to the
  * codegen'd explode+join+agg path (+45% on the DSIR probe); this is
  * the codegen'd fold that verdict item asked for — `compute` is one
  * md5 + depth array reads per row, whole-stage-codegen'd via
  * [[doGenCode]].
  */
case class CountMinEstimate(child: Expression, depth: Int, width: Int,
    counters: Array[Long])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"count_min_estimate expects string, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    CountMinEstimate.compute(v.asInstanceOf[UTF8String], depth, width, counters)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("cmCounters", counters, "long[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.CountMinEstimate$$.MODULE$$.compute($v, $depth, $width, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CountMinEstimate {
  import org.apache.spark.sql.GraftColumnBridge

  private val P = 1000000007L

  // named compute, not eval — scalac emits no static forwarder for a
  // companion `eval` (clashes with Expression.eval); Janino would
  // silently fall back to interpreted evaluation
  def compute(token: UTF8String, depth: Int, width: Int,
      counters: Array[Long]): Long = {
    val base = Md5Prefix60.compute(token.getBytes) % P
    var est = Long.MaxValue
    var d = 0
    while (d < depth) {
      val h = ((2L * d + 1L) * base + 7919L * d + 13L) % P % width
      val c = counters(d * width + h.toInt)
      if (c < est) est = c
      d += 1
    }
    est
  }

  def est(token: Column, depth: Int, width: Int,
      counters: Array[Long]): Column =
    GraftColumnBridge.column(CountMinEstimate(
      GraftColumnBridge.expression(token), depth, width, counters))
}
