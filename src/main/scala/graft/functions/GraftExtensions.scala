package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one way graft's native functions and the [[PresentSort]] planner
  * rule reach a session: `SparkSessionExtensions`, applied by builder
  * `.withExtensions` (graft.Sessions, so every session the engine builds)
  * or by the `spark.sql.extensions` conf (a cluster deployment). Like a
  * warehouse built-in, each function exists in every such session and no
  * query installs it; a session built without the extension fails at
  * analysis with Spark's unresolved-function error. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, className, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
    e.injectQueryStagePrepRule(_ => PresentSort)
  }
}

object GraftExtensions {
  // Builders validate ARITY loudly: `exprs.head` alone would silently DROP
  // surplus arguments (`cosine_sim(a, b, c)` computing from (a, b) — a
  // wrong answer with no error) and throw a raw IndexOutOfBounds on
  // missing ones.
  private def arity1(name: String, mk: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => mk(a)
    case exprs => throw new IllegalArgumentException(
      s"function $name requires exactly 1 argument, got ${exprs.length}")
  }

  private def arity2(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case exprs => throw new IllegalArgumentException(
      s"function $name requires exactly 2 arguments, got ${exprs.length}")
  }

  /** graft's native functions: (name, expression class name, builder). */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim].getName,
      arity2("cosine_sim", CosineSim(_, _))),
    ("dot_product", classOf[DotProduct].getName,
      arity2("dot_product", DotProduct(_, _))),
    ("simhash32", classOf[SimHash32].getName, arity1("simhash32", SimHash32)),
    ("simhash60", classOf[SimHash60].getName, arity1("simhash60", SimHash60)),
    ("rp_band_codes", classOf[RpBandCodes].getName,
      arity1("rp_band_codes", RpBandCodes)),
    ("md5_prefix48", classOf[Md5Prefix48].getName,
      arity1("md5_prefix48", Md5Prefix48)),
    ("collect_sorted_capped", classOf[CollectSortedCapped].getName,
      arity2("collect_sorted_capped",
        (e, c) => CollectSortedCapped(e, c).toAggregateExpression())),
  )
}
