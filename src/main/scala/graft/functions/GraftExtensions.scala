package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ExpressionInfo,
  InterpretedOrdering, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Session extensions installed at session build with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`, as
  * [[graft.GraftSession]] does:
  *
  *  - SQL registration for the native expressions, so `spark.sql` users
  *    get them too (SURVEY.md §7.3 custom-operator ladder: expressions are
  *    registered, not bound only to the Scala Column API):
  *    - `poly_hash(str, mul, mod)`     — [[PolyHash]]
  *    - `float_vec_dot(a, b)`          — [[FloatVecDot]]
  *    - `float_double_vec_dot(a, b)`   — [[FloatDoubleVecDot]]
  *  - the optimizer rule [[SortLocalRelation]], which sorts a `LocalRelation`'s
  *    rows at planning time, so a browse call over a catalog snapshot plans
  *    to a `LocalTableScan` and runs no job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SortLocalRelation)
  }
}

/** Folds a global `Sort` over a non-streaming `LocalRelation` into a
  * `LocalRelation` of the sorted rows. Spark's `ConvertToLocalRelation`
  * folds `Project`, `Filter` and `Limit` over local rows but not `Sort`,
  * so an `orderBy` over a few rows otherwise costs a range-partition
  * sample job, a map job and a result job.
  *
  * The sort is stable (`Seq.sorted`), and it compares with Spark's own
  * `InterpretedOrdering`, so ties keep their input order and nulls and
  * NaN order as a `SortExec` orders them. An order that is
  * non-deterministic or holds an expression that only a task can evaluate
  * (a subquery, a Python UDF: the check `ConvertToLocalRelation` makes)
  * is left to the planner, and so is `sortWithinPartitions` (a
  * non-global sort). Excluded by name through
  * `spark.sql.optimizer.excludedRules`, like any optimizer rule.
  */
object SortLocalRelation extends Rule[LogicalPlan] {

  private def evaluable(e: Expression): Boolean = !e.exists {
    case _: AttributeReference => false
    case _: Unevaluable => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Sort(order, true, l: LocalRelation, _)
        if !l.isStreaming && order.forall(o => o.deterministic && evaluable(o.child)) =>
      l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
  }
}

object GraftFunctions {

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"poly_hash: $what must be an integer literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "poly_hash(str, mul, mod) takes 3 arguments")
        PolyHash(args.head, longArg(args(1), "mul"), longArg(args(2), "mod"))
      }),
    (FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "float_vec_dot(a, b) takes 2 arguments")
        FloatVecDot(args.head, args(1))
      }),
    (FunctionIdentifier("float_double_vec_dot"),
      new ExpressionInfo(classOf[FloatDoubleVecDot].getName, "float_double_vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "float_double_vec_dot(a, b) takes 2 arguments")
        FloatDoubleVecDot(args.head, args(1))
      }))
}
