package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Resolved form of `df.hint("skew_salt", n)`: a pass-through marker
  * naming the SKEWED side of a join and its salt fan-out, consumed by
  * [[SkewSaltJoinRule]]. Same analyzer-marker pattern as
  * [[RangeBinWidthHint]]: `UnresolvedHint` only exists during
  * analysis, so an analyzer rule (injected via
  * `spark.sql.extensions=graft.GraftExtensions`) must convert it
  * before unrecognized hints are warned-and-dropped.
  */
case class SkewSaltHint(child: LogicalPlan, nSalts: Int) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): SkewSaltHint =
    copy(child = c)
}

/** Analyzer rule: `UnresolvedHint("skew_salt", Seq(n), child)` →
  * [[SkewSaltHint]] (malformed parameters: warn + drop, matching
  * Spark's tolerance for bad hint parameters). */
object ResolveSkewSaltHint extends Rule[LogicalPlan] {
  val HINT_NAME = "skew_salt"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case UnresolvedHint(name, params, child)
        if name.equalsIgnoreCase(HINT_NAME) && child.resolved =>
      params match {
        case Seq(Literal(n: Int, _)) if n > 1  => SkewSaltHint(child, n)
        case Seq(Literal(n: Long, _)) if n > 1 => SkewSaltHint(child, n.toInt)
        case other =>
          logWarning(s"skew_salt hint expects one integer fan-out > 1, " +
            s"got $other — hint ignored")
          child
      }
  }
}

/** Optimizer rule: rewrite a hinted inner join into the salted join
  * — the same [[SkewSaltJoinRule.rewrite]] `api/SkewUtils.saltedJoin`
  * applies to its own join. Injected by [[graft.GraftExtensions]]
  * only (the hint marker needs its analyzer rule anyway).
  *
  * `big.hint("skew_salt", n).join(small, cond)` marks `big` as the
  * SKEWED side. The rewrite projects a deterministic per-row salt
  * onto the hinted side (`pmod(hash(<all its columns>), n)` — hash of
  * the full row, so a hot KEY's rows still spread because their
  * non-key columns differ), replicates the other side n× via an
  * exploded `sequence(0, n-1)`, and adds `salt = replica` to the join
  * condition. The planner's equi-key extraction then hashes the
  * exchange on (key…, salt), so the hottest key occupies n reducer
  * partitions BY CONSTRUCTION — the pre-shuffle spread AQE's runtime
  * skew-join rescue cannot provide (SkewUtils regime 3: skewed
  * aggregation inputs, shuffled-hash paths, broadcast-impossible
  * build sides).
  *
  * Correct for ANY inner-join condition: each replicated-side row
  * appears exactly once per salt value and each hinted-side row
  * carries exactly one salt, so every (big, small) pair is tested
  * exactly once — the rewrite composes the salt conjunct with the
  * ORIGINAL condition unchanged. Deliberately narrow, like
  * [[RangeBinJoinRule]]:
  *
  *  - fires only on an explicit per-join hint (no conf mode — salting
  *    an unskewed join is pure overhead, so the decision is the
  *    user's);
  *  - INNER joins only (an outer join's unmatched-row semantics would
  *    emit one null-extended row PER REPLICA — wrong; refused, hint
  *    dropped with a warning);
  *  - batch plans only (`isStreaming` guard).
  *
  * Markers are ALWAYS stripped at the end of the pass, so a hint on a
  * join the rule refuses is a clean no-op. Cannot refire on its own
  * output: detection requires a marker, and the pass consumes all of
  * them.
  */
object SkewSaltJoinRule extends Rule[LogicalPlan] {

  /** Nearest skew_salt marker under `p`, NOT descending into a nested
    * join (that join owns its own hints). */
  private def hintSalts(p: LogicalPlan): Option[Int] = p match {
    case SkewSaltHint(_, n) => Some(n)
    case _: Join => None
    case other => other.children.iterator.flatMap(hintSalts).nextOption()
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.exists { case _: SkewSaltHint => true; case _ => false }) return plan
    val rewritten = plan.transformUp {
      case j @ Join(left, right, Inner, _, _) if !j.isStreaming && j.resolved =>
        (hintSalts(left), hintSalts(right)) match {
          case (Some(n), _) => rewrite(j, hintedIsLeft = true, n, left.output)
          case (None, Some(n)) => rewrite(j, hintedIsLeft = false, n, right.output)
          case _ => j
        }
      case j: Join if j.exists { case _: SkewSaltHint => true; case _ => false } =>
        logWarning(s"skew_salt hint on a ${j.joinType} join — only INNER joins " +
          "can be salted (outer joins would null-extend once per replica); hint ignored")
        j
    }
    // consumed or refused — nothing unknown may reach physical planning
    rewritten.transformUp { case SkewSaltHint(c, _) => c }
  }

  /** The salted rewrite of the inner join `j`: the hinted side (left
    * or right) carries the row salt `pmod(hash(saltInputs), nSalts)`,
    * the other side is replicated `nSalts`×, and `salt = replica`
    * joins the condition. The rule salts on the hinted side's full
    * row; `api/SkewUtils.saltedJoin` passes its caller's salt source.
    * Output = `j.output`, in order. */
  private[graft] def rewrite(j: Join, hintedIsLeft: Boolean, nSalts: Int,
      saltInputs: Seq[Expression]): LogicalPlan = {
    val (hinted, other) = if (hintedIsLeft) (j.left, j.right) else (j.right, j.left)
    // deterministic row salt: task retries recompute the same value,
    // so shuffle re-computation stays consistent (rand()-based salting
    // does not have that property)
    val salt = Alias(
      Cast(Pmod(new Murmur3Hash(saltInputs), Literal(nSalts)), LongType),
      "_graft_salt")()
    val salted = Project(hinted.output :+ salt, hinted)
    val repAttr = AttributeReference("_graft_rep", LongType, nullable = false)()
    val replicated = Generate(
      Explode(Sequence(Literal(0L, LongType), Literal(nSalts - 1L, LongType),
        Some(Literal(1L, LongType)), None)
        .withTimeZone(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(repAttr), child = other)
    val saltEq = EqualTo(salt.toAttribute, repAttr)
    val newCond = j.condition.map(And(_, saltEq)).getOrElse(saltEq)
    val (l, r) = if (hintedIsLeft) (salted, replicated) else (replicated, salted)
    Project(j.output, Join(l, r, Inner, Some(newCond), JoinHint.NONE))
  }
}
