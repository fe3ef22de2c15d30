package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration for the native expressions, so `spark.sql` users get
  * them too (SURVEY.md §7.3 custom-operator ladder: expressions are
  * registered, not bound only to the Scala Column API):
  *
  *  - `poly_hash(str, mul, mod)`     — [[PolyHash]]
  *  - `float_vec_dot(a, b)`          — [[FloatVecDot]]
  *  - `float_double_vec_dot(a, b)`   — [[FloatDoubleVecDot]]
  *
  * Installed at session build with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`, as
  * [[graft.GraftSession]] does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
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
