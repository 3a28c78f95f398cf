package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: registers the engine's native
  * expressions at session build time, cluster-wide —
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`), making every function of
  * [[CryptoExpressions.functions]] available to SQL text and
  * `call_function` without per-DataFrame registration. The lazy
  * [[CryptoExpressions.register]] path installs the same list for ad-hoc
  * sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    CryptoExpressions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(CryptoExpressions.getClass.getName, name), builder))
    }
}
