package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProduct

/** SparkSessionExtensions installer: registers the engine's native
  * expressions under SQL names so `spark.sql("... vec_dot(a,b) ...")`
  * works anywhere (install via
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `withExtensions(new GraftExtensions)` on a session builder;
  * `GraftSession` does the former).
  * No custom optimizer rules or strategies are injected — SURVEY.md §4.2:
  * every query plan here is expressible with stock Catalyst; the
  * extension surface is expressions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
  }
}
