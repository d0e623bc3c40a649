package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression,
  InterpretedUnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The rows of a frame the driver already holds, read without planning
  * a query.
  *
  * A frame is driver-resident when its analyzed plan, which `Dataset`
  * computes when the frame is made, is
  *  - a `LocalRelation`: a `Seq` passed to `createDataFrame`. Its rows
  *    are the relation's rows;
  *  - or one `Project` of a `LocalRelation` (a `select`, `toDF` or
  *    `withColumn` over such a frame) whose expressions are all
  *    deterministic and, once `ReplaceExpressions` has run, evaluable.
  *    The expressions are bound to the relation's output and evaluated
  *    by an interpreted projection over the relation's rows. That is
  *    the evaluation Spark's `ConvertToLocalRelation` rule does, with no
  *    optimizer, physical planner or query execution around it.
  * Any other plan (a filter, a nested projection, a file scan) is not,
  * and reads through `collect()`.
  *
  * The analyzer has already bound the session's time zone into the
  * expressions, so a frame made after the zone changes evaluates in the
  * new zone, as its collect would.
  */
object LocalRows {

  /** The rows of `df` if it is driver-resident, else None. */
  def of(df: DataFrame): Option[Seq[Row]] = {
    val qe = df.queryExecution
    SQLConf.withExistingConf(qe.sparkSession.sessionState.conf) {
      qe.analyzed match {
        case r: LocalRelation => Some(toRows(r.schema, r.data.iterator))
        case p @ Project(_, r: LocalRelation) =>
          val exprs = BindReferences.bindReferences[Expression](
            ReplaceExpressions(p).asInstanceOf[Project].projectList, r.output)
          if (exprs.exists(e => !e.deterministic || e.exists(_.isInstanceOf[Unevaluable]))) None
          else {
            val project = InterpretedUnsafeProjection.createProjection(exprs)
            Some(toRows(p.schema, r.data.iterator.map(project)))
          }
        case _ => None
      }
    }
  }

  /** The rows of `df`: evaluated on the driver if it is
    * driver-resident, else collected through a query.
    */
  def collect(df: DataFrame): Seq[Row] = of(df).getOrElse(df.collect().toSeq)

  /** Catalyst rows as external `Row`s of `schema`. Each row is
    * converted before the next is read, so a projection's reused
    * output row is safe to pass.
    */
  private def toRows(schema: StructType, rows: Iterator[InternalRow]): Seq[Row] = {
    val convert = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(convert(_).asInstanceOf[Row]).toVector
  }
}
