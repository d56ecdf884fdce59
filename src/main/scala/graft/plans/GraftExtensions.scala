package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension registering graft's native expressions for SQL use
  * (`SELECT graft_dot(a, b) ...`). [[graft.GraftSession]] installs it;
  * a session built elsewhere gets it with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_scatter"),
      new ExpressionInfo(classOf[ScatterToDense].getName, "graft_scatter"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ScatterToDense(exprs(0), exprs(1), exprs(2))))
  }
}
