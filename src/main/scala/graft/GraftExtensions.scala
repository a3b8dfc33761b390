package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-build extension entry point:
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`).
  *
  * The one install path for the join-rewrite rules:
  *  - [[plans.ResolveRangeBinHint]] and [[plans.ResolveSkewSaltHint]]
  *    into the ANALYZER, so `df.hint("range_bin", w)` and
  *    `df.hint("skew_salt", n)` survive analysis as marker nodes
  *    (unrecognized hints are dropped before any optimizer rule runs,
  *    so no runtime seam can add them);
  *  - [[plans.RangeBinJoinRule]] and [[plans.SkewSaltJoinRule]] into
  *    the optimizer, for the hint forms and the
  *    `spark.graft.rangeBin.width` conf form.
  *
  * The DataFrame API forms (`api.RangeBinJoin`, `api.SkewUtils`)
  * apply the same rewrites to their own plans and need no extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => plans.ResolveRangeBinHint)
    ext.injectOptimizerRule(_ => plans.RangeBinJoinRule)
    // same marker pattern for pre-shuffle skew salting:
    // df.hint("skew_salt", n) on the skewed side of an inner join
    ext.injectResolutionRule(_ => plans.ResolveSkewSaltHint)
    ext.injectOptimizerRule(_ => plans.SkewSaltJoinRule)
    // SQL table functions for the analytics wave: graft_funnel /
    // graft_cohort_retention / graft_twap (Engine.init registers the
    // same ones at runtime for sessions built without this extension)
    api.EventAnalytics.descriptions.foreach(ext.injectTableFunction)
  }
}
