package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, UnresolvedHint}
import org.apache.spark.sql.catalyst.rules.Rule

/** Resolved form of `df.hint("range_bin", width)`: a pass-through
  * marker carrying a PER-JOIN bin width for [[RangeBinJoinRule]].
  *
  * Why a marker node and not the conf: `spark.graft.rangeBin.width`
  * is session-global, so two range joins with different interval
  * scales in one session (15-minute event windows ⋈ 1-day validity
  * windows) had to share one width — the wrong one explodes into
  * thousands of bins per row or degrades candidate filtering. The
  * hint rides the plan, so each join names its own width.
  *
  * Why an ANALYZER rule must create it: `UnresolvedHint` only exists
  * during analysis — unrecognized hints are warned-and-dropped before
  * the optimizer runs, so no optimizer rule can ever see one.
  * [[ResolveRangeBinHint]] is therefore injected at session BUILD via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`), the
  * same extension that injects [[RangeBinJoinRule]].
  *
  * [[RangeBinJoinRule]] consumes the nearest marker under each join
  * side (not crossing a nested join) and ALWAYS strips every marker
  * at the end of its pass, so a hint on a join the rule does not
  * rewrite — an equi-keyed join, a non-range condition — is a clean
  * no-op, exactly like Spark's own join-strategy hints.
  */
case class RangeBinWidthHint(child: LogicalPlan, width: Long) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): RangeBinWidthHint =
    copy(child = c)
}

/** Analyzer rule: `UnresolvedHint("range_bin", Seq(w), child)` →
  * [[RangeBinWidthHint]] (malformed parameters: warn + drop, matching
  * Spark's tolerance for bad hint parameters). */
object ResolveRangeBinHint extends Rule[LogicalPlan] {
  val HINT_NAME = "range_bin"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case UnresolvedHint(name, params, child)
        if name.equalsIgnoreCase(HINT_NAME) && child.resolved =>
      params match {
        case Seq(Literal(w: Long, _)) if w > 0   => RangeBinWidthHint(child, w)
        case Seq(Literal(w: Int, _)) if w > 0    => RangeBinWidthHint(child, w.toLong)
        case other =>
          logWarning(s"range_bin hint expects one positive integer bin width, " +
            s"got $other — hint ignored")
          child
      }
  }
}
