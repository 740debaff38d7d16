package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Canonical extension entry point: register graft's native functions
  * at session build time via
  * `--conf spark.sql.extensions=graft.expressions.GraftSparkExtensions`
  * (or `SparkSession.builder().withExtensions(new GraftSparkExtensions)`).
  * Equivalent to [[GraftFunctions.register]] on a live session.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}
