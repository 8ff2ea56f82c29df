package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine extensions, injected via the public `SparkSessionExtensions`
  * mechanism (`.withExtensions(new GraftExtensions)` in [[graft.GraftSession]],
  * or `spark.sql.extensions=graft.plans.GraftExtensions` on any cluster).
  *
  * Registers the custom Catalyst expression `long_dot` so SQL users get it
  * too: `SELECT long_dot(a, b) FROM vectors` — same codegen'd kernel as the
  * Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "long_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "long_dot(arrayA, arrayB) takes exactly 2 arguments")
        LongArrayDot(children.head, children(1))
      }))
  }
}
