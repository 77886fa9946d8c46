package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Functions

/** SparkSessionExtensions entry point for a session configured with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `builder.withExtensions(new GraftExtensions)`): a cluster picks up
  * every function of [[Functions.table]] from config alone, plus the
  * `RangeJoinRule` optimizer rule and the `AsOfJoinStrategy` planner
  * strategy. Sessions built by [[Sessions.local]] get the same functions
  * through `Functions.install` but neither plan extension (the rule would
  * rewrite plans session-wide). `lsh_bands` stays programmatic
  * (`VectorExpressions.registerLsh`) because it binds a concrete
  * hyperplane matrix.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    Functions.table.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
  }
}
