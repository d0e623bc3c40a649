package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression,
  InterpretedUnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The rows of a frame the driver already holds, read without planning
  * a query.
  *
  * A frame is driver-resident when its analyzed plan, which `Dataset`
  * computes when the frame is made, is a `LocalRelation`: a `Seq`
  * passed to `createDataFrame`. Its rows are the relation's rows. Any
  * other plan (a projection, a filter, a file scan) is not, and reads
  * through `collect()`.
  *
  * [[project]] evaluates a projection of a `LocalRelation` frame that
  * is stated as columns, not as a frame: the rows `raw.select(columns)`
  * would hold, with no `Dataset` made and no analyzer run. The columns
  * are analyzed once per binding key — the input schema, the session's
  * explicitly set configuration and the columns — against the first
  * frame met with that key, bound to the relation's output by ordinal,
  * and kept with one interpreted projection, which a lock lets one
  * caller use at a time. That is the evaluation Spark's
  * `ConvertToLocalRelation` rule does, with no optimizer, physical
  * planner or query execution around it. The analyzer binds the
  * session's time zone and ANSI mode into the expressions, and both are
  * configuration, so a change of either binds anew, as a frame made
  * after the change would. The key does not cover the session's
  * function registry: a column must not name a temporary function that
  * is re-registered between batches.
  */
object LocalRows {

  /** The rows of `df` if it is driver-resident, else None. */
  def of(df: DataFrame): Option[Seq[Row]] = df.queryExecution.analyzed match {
    case r: LocalRelation =>
      SQLConf.withExistingConf(df.sparkSession.sessionState.conf) {
        Some(toRows(converter(r.schema), r.data.iterator))
      }
    case _ => None
  }

  /** The rows of `raw.select(columns)` if `raw` is a `LocalRelation`
    * frame and the projection is driver-resident, else None. Of `raw`
    * itself when `columns` is empty.
    */
  def project(raw: DataFrame, columns: Seq[Column]): Option[Seq[Row]] =
    if (columns.isEmpty) of(raw)
    else raw.queryExecution.analyzed match {
      case r: LocalRelation =>
        val conf = raw.sparkSession.sessionState.conf
        val key = (r.schema, conf.getAllConfs, columns)
        val binding = bindings.synchronized(Option(bindings.get(key))).getOrElse {
          val bound = bind(raw, columns, conf)
          bindings.synchronized(bindings.put(key, bound))
          bound
        }
        binding.map(_.rows(r.data, conf))
      case _ => None
    }

  /** The rows of `df`, to be read by column name: every column of a
    * driver-resident frame, evaluated on the driver, else only
    * `columns`, collected through a query.
    */
  def collect(df: DataFrame, columns: String*): Seq[Row] =
    of(df).getOrElse(df.select(columns.map(col): _*).collect().toSeq)

  /** Bindings kept by [[project]], least recently used first. */
  private val MaxBindings = 64
  private val bindings = new java.util.LinkedHashMap[AnyRef, Option[Binding]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, Option[Binding]]): Boolean =
      size > MaxBindings
  }

  /** `columns` analyzed against `raw`, a `LocalRelation` frame, and
    * bound to its output by ordinal, if all of them are deterministic
    * and evaluable once `ReplaceExpressions` has run. Analyzed and bound
    * under `conf`, the configuration of the binding key.
    */
  private def bind(raw: DataFrame, columns: Seq[Column], conf: SQLConf): Option[Binding] =
    SQLConf.withExistingConf(conf) {
      raw.select(columns: _*).queryExecution.analyzed match {
        case p @ Project(_, input: LocalRelation) =>
          val exprs = BindReferences.bindReferences[Expression](
            ReplaceExpressions(p).asInstanceOf[Project].projectList, input.output)
          if (exprs.exists(e => !e.deterministic || e.exists(_.isInstanceOf[Unevaluable]))) None
          else Some(new Binding(exprs, p.schema))
        case _ => None
      }
    }

  /** Bound expressions, the projection that evaluates them and the
    * converter of its output to `Row`s of `schema`, made under the
    * caller's configuration. The projection reuses its output row and
    * its evaluation state, so one caller at a time uses it.
    */
  private final class Binding(exprs: Seq[Expression], schema: StructType) {
    private val projection = InterpretedUnsafeProjection.createProjection(exprs)
    private val convert = converter(schema)

    def rows(data: Seq[InternalRow], conf: SQLConf): Seq[Row] = synchronized {
      SQLConf.withExistingConf(conf)(toRows(convert, data.iterator.map(projection)))
    }
  }

  private def converter(schema: StructType): Any => Any =
    CatalystTypeConverters.createToScalaConverter(schema)

  /** Catalyst rows as external `Row`s. Each row is converted before the
    * next is read, so a projection's reused output row is safe to pass.
    */
  private def toRows(convert: Any => Any, rows: Iterator[InternalRow]): Seq[Row] =
    rows.map(convert(_).asInstanceOf[Row]).toVector
}
