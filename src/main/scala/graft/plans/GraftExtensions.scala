package graft.plans

import graft.functions.{CmsEstimate, DotProduct, GraftFunctions}
import graft.operators.Exact
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: installs graft's native
  * expressions, its optimizer rule and its planner strategy into every
  * session built with `spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`), so
  * a cluster picks them up from configuration alone — no library call
  * needed before SQL can use them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      GraftFunctions.dotBuilder _))
    extensions.injectFunction((
      FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName,
        "graft_cms_estimate"),
      GraftFunctions.cmsBuilder _))
    extensions.injectFunction(graft.functions.TextStats.registration)
    // Narrow DECIMAL sums accumulate on long limbs (operators/Exact.scala).
    extensions.injectOptimizerRule(_ => Exact.Sums)
    // Whole-operator extension: plans RangeJoinPlan nodes onto the
    // broadcast-binary-search range join (see plans/RangeJoin.scala).
    extensions.injectPlannerStrategy(_ => RangeJoinStrategy)
  }
}
