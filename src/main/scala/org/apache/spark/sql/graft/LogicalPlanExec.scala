package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` seam the join APIs need: wrap a
  * rewritten LogicalPlan as a DataFrame. `api/RangeBinJoin` and
  * `api/SkewUtils.saltedJoin` apply the optimizer rules' rewrites to
  * their own naive join's analyzed plan and return the result through
  * here, so they work in any session. `Dataset.ofRows` is package-
  * private to `org.apache.spark.sql`, hence this shim package — the
  * standard extension-point pattern for code that composes plans the
  * public builder API can't reach. */
object LogicalPlanExec {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Second `private[sql]` seam, same rationale: RUNTIME registration
  * of SQL table functions (`sessionState.tableFunctionRegistry`) for
  * sessions not built with `spark.sql.extensions=graft.GraftExtensions`
  * — extension-built sessions get the identical functions via the
  * public `injectTableFunction`, this only serves `Engine.init` on a
  * plain session. */
object TableFunctionReg {
  def register(spark: SparkSession, ident: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)
}
