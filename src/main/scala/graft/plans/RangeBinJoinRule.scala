package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** The binned range-join rewrite, built once: this optimizer rule
  * applies it to naive range-only joins, and `api/RangeBinJoin`
  * applies the same builders ([[binnedJoin]], [[overlapBinnedJoin]])
  * to the analyzed plan of its own naive join.
  *
  * A join whose entire condition is `lo ⋚ v ⋚ hi` (value from one
  * side, bounds from the other, no equality conjunct anywhere) gives
  * the planner nothing to hash on, so Spark executes it as a
  * BroadcastNestedLoopJoin — O(|L|·|R|), the first plan to die at
  * scale. This rule detects exactly that shape and rewrites the
  * LOGICAL plan: explode the bounds side into the fixed-width bins
  * its interval overlaps, compute the value side's single bin, join
  * on bin EQUALITY (hash-joinable, AQE-splittable, broadcastable),
  * and keep the ORIGINAL condition as the residual filter — so the
  * rewrite is correct for any strictness/openness of the bounds and
  * any bin width.
  *
  * Deliberately opt-in and narrow:
  *  - fires only when a width is DECLARED, by (in priority order):
  *    a per-join `df.hint("range_bin", w)` on either join input
  *    (resolved to a [[RangeBinWidthHint]] marker by the
  *    session-extension analyzer rule — see [[graft.GraftExtensions]])
  *    or the session conf `spark.graft.rangeBin.width` set to a
  *    positive long;
  *  - only INNER joins whose condition is precisely one lower and
  *    one upper bound on the same BIGINT value expression, each
  *    bound referencing only the opposite side, everything
  *    deterministic — anything else (an equi conjunct, extra
  *    predicates, other types, the interval-overlap shape) is left
  *    for the normal planner;
  *  - batch plans only (`isStreaming` guard): stream-stream joins
  *    carry watermark state machinery this rewrite must not touch.
  *
  * Injected into the optimizer by [[graft.GraftExtensions]] only. The
  * rule cannot refire on its own output because the rewritten join
  * contains a bin-equality conjunct, which the matcher rejects. The
  * ExtrasSuite pins that the rewritten plan contains no nested-loop
  * join and returns rows identical to the naive plan's.
  */
object RangeBinJoinRule extends Rule[LogicalPlan] {

  val WIDTH_CONF = "spark.graft.rangeBin.width"

  /** Per-row cap on the bin explode. The conf is session-global but
    * the safe width is per-join: a second range-only join in the same
    * session with a much wider (or open-ended) interval would expand
    * into millions of bin rows per input row — or overflow Sequence —
    * on a query the naive nested-loop plan would have completed. A
    * row whose interval spans more than this many bins fails LOUDLY
    * with instructions instead of silently exploding.
    */
  val MAX_BINS_CONF = "spark.graft.rangeBin.maxBins"
  val MAX_BINS_DEFAULT = 4096L

  /** (value, bound) if `e` is a single comparison bounding a BIGINT
    * value from `valSide` by an expression over `boundSide`; the
    * Boolean is true for a LOWER bound on the value.
    */
  private def asBound(e: Expression, valSide: LogicalPlan, boundSide: LogicalPlan)
      : Option[(Expression, Expression, Boolean)] = {
    def oriented(v: Expression, b: Expression, lower: Boolean) =
      if (v.dataType == LongType && b.dataType == LongType &&
          v.deterministic && b.deterministic &&
          v.references.nonEmpty && v.references.subsetOf(valSide.outputSet) &&
          b.references.nonEmpty && b.references.subsetOf(boundSide.outputSet))
        Some((v, b, lower))
      else None
    e match {
      case GreaterThan(a, b)        => oriented(a, b, lower = true).orElse(oriented(b, a, lower = false))
      case GreaterThanOrEqual(a, b) => oriented(a, b, lower = true).orElse(oriented(b, a, lower = false))
      case LessThan(a, b)           => oriented(a, b, lower = false).orElse(oriented(b, a, lower = true))
      case LessThanOrEqual(a, b)    => oriented(a, b, lower = false).orElse(oriented(b, a, lower = true))
      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Nearest range_bin hint marker under `p`, NOT descending into a
    * nested join (that join owns its own hints). */
  private def hintWidth(p: LogicalPlan): Option[Long] = p match {
    case RangeBinWidthHint(_, w) => Some(w)
    case _: Join => None
    case other => other.children.iterator.flatMap(hintWidth).nextOption()
  }

  /** The conf's per-row bin cap; a malformed or non-positive value is
    * rejected by name rather than read as the default (or as a cap
    * that makes every multi-bin interval raise). */
  private def maxBinsConf(): Long = {
    val raw = SQLConf.get.getConfString(MAX_BINS_CONF, MAX_BINS_DEFAULT.toString)
    raw.toLongOption.filter(_ > 0L).getOrElse(throw new IllegalArgumentException(
      s"$MAX_BINS_CONF must be a positive integer, got '$raw'"))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a malformed conf value must disable the rule with a warning, not
    // throw NumberFormatException into the optimization of EVERY query
    val raw = SQLConf.get.getConfString(WIDTH_CONF, "0")
    val confWidth: Option[Long] = raw.toLongOption match {
      case Some(w) if w > 0 => Some(w)
      case Some(_) => None // 0 / negative = disabled
      case None =>
        logWarning(s"$WIDTH_CONF='$raw' is not a long — range-bin rewrite disabled")
        None
    }
    val anyHint = plan.exists { case _: RangeBinWidthHint => true; case _ => false }
    if (confWidth.isEmpty && !anyHint) return plan
    val rewritten = plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !j.isStreaming && j.resolved =>
        (for {
          width <- hintWidth(left).orElse(hintWidth(right)).orElse(confWidth)
          (v, lo, hi) <- matchJoin(left, right, cond)
        } yield binnedJoin(j, v, lo, hi, width, maxBinsConf())).getOrElse(j)
    }
    // hints are consumed (or ignored — e.g. on an equi-keyed join the
    // rule stays hands-off): always strip the markers so nothing
    // unknown reaches physical planning
    rewritten.transformUp { case RangeBinWidthHint(c, _) => c }
  }

  /** (value, lo, hi) if the two conjuncts form one lower + one upper
    * bound on the SAME value expression under this side assignment.
    * Each orientation must validate FULLY before being chosen: a
    * single conjunct `v > lo` reads as "v bounded below" in one
    * assignment and "lo bounded above" in the other, and only the
    * cross-conjunct same-value check can tell which reading is real.
    */
  private def matchRange(conjuncts: Seq[Expression], valSide: LogicalPlan,
                         boundsSide: LogicalPlan)
      : Option[(Expression, Expression, Expression)] =
    (asBound(conjuncts(0), valSide, boundsSide),
      asBound(conjuncts(1), valSide, boundsSide)) match {
      case (Some((vx, bx, xLower)), Some((vy, by, yLower)))
          if xLower != yLower && vx.semanticEquals(vy) =>
        val (lo, hi) = if (xLower) (bx, by) else (by, bx)
        Some((vx, lo, hi))
      case _ => None
    }

  /** The rule's shape matcher: (value, lo, hi) when `cond` is exactly
    * one lower and one upper bound on a value from one join side by
    * bounds from the other, in either orientation. */
  private def matchJoin(left: LogicalPlan, right: LogicalPlan, cond: Expression)
      : Option[(Expression, Expression, Expression)] = {
    val conjuncts = splitConjuncts(cond)
    if (conjuncts.length != 2) None
    else matchRange(conjuncts, right, left).orElse(matchRange(conjuncts, left, right))
  }

  private def binOf(e: Expression, width: Long) =
    IntegralDivide(e, Literal(width, LongType))

  /** The ONE guarded-bins expression: every `width`-bin the interval
    * [lo, hi] touches. An empty interval (lo's bin past hi's) yields
    * no bins rather than a Sequence error, and an interval spanning
    * more than `maxBins` bins raises a loud, actionable error instead
    * of an unbounded explode (see [[MAX_BINS_CONF]]). `div` floors
    * only for non-negative operands; intervals over epoch-anchored
    * values are non-negative in practice. */
  private def guardedBins(lo: Expression, hi: Expression, width: Long,
                          maxBins: Long): Expression = {
    val (loBin, hiBin) = (binOf(lo, width), binOf(hi, width))
    val binsType = ArrayType(LongType, containsNull = false)
    val seq = Sequence(loBin, hiBin, Some(Literal(1L, LongType)), None)
      .withTimeZone(SQLConf.get.sessionLocalTimeZone)
    val tooWide = Cast(new RaiseError(Concat(Seq(
      Literal(s"graft range-bin join: an interval spans more than $maxBins bins " +
        s"of width $width at row value "),
      Cast(lo, StringType), Literal(".."), Cast(hi, StringType),
      Literal(s" — widen the bin width or raise maxBins ($MAX_BINS_CONF for " +
        "the hint and conf forms)")))), binsType)
    val guarded = If(GreaterThan(Subtract(hiBin, loBin), Literal(maxBins, LongType)),
      tooWide, seq)
    If(LessThanOrEqual(loBin, hiBin), guarded, Literal.create(Array.empty[Long], binsType))
  }

  private def explodeBins(child: LogicalPlan, lo: Expression, hi: Expression,
                          width: Long, maxBins: Long): (LogicalPlan, Attribute) = {
    val binAttr = AttributeReference("_graft_bin", LongType, nullable = false)()
    (Generate(Explode(guardedBins(lo, hi, width, maxBins)), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binAttr), child = child),
      binAttr)
  }

  /** Point-in-interval rewrite of the inner join `j`, whose condition
    * bounds `v` (over one side) by `lo`/`hi` (over the other): the
    * bounds side explodes into its bins, the value side projects its
    * one bin, the join keys on bin equality and keeps `j`'s condition
    * as the residual. Output = `j.output`, in order. */
  private[graft] def binnedJoin(j: Join, v: Expression, lo: Expression, hi: Expression,
                 width: Long, maxBins: Long): LogicalPlan = {
    val (boundsSide, valSide) =
      if (lo.references.subsetOf(j.left.outputSet)) (j.left, j.right) else (j.right, j.left)
    val (exploded, binAttr) = explodeBins(boundsSide, lo, hi, width, maxBins)
    val vbin = Alias(binOf(v, width), "_graft_vbin")()
    val projected = Project(valSide.output :+ vbin, valSide)
    // physically (exploded bounds) ⋈ (projected value side); the final
    // Project restores the ORIGINAL join's output order either way
    val cond = And(EqualTo(binAttr, vbin.toAttribute), j.condition.get)
    Project(j.output, Join(exploded, projected, Inner, Some(cond), JoinHint.NONE))
  }

  /** Interval-overlap rewrite of the inner join `j` of [aLo, aHi]
    * (left) with [bLo, bHi] (right): BOTH sides explode into their
    * bins, so an overlapping pair co-occurs in every bin the two
    * intervals share. The pair is kept only in the bin holding the
    * overlap start, `greatest(aLo, bLo) div width` — both intervals
    * cover that instant, so each pair is emitted exactly once with no
    * distinct() shuffle. `j`'s condition stays as the residual.
    * Output = `j.output`, in order. */
  private[graft] def overlapBinnedJoin(j: Join, aLo: Expression, aHi: Expression,
                        bLo: Expression, bHi: Expression,
                        width: Long, maxBins: Long): LogicalPlan = {
    val (lx, lBin) = explodeBins(j.left, aLo, aHi, width, maxBins)
    val (rx, rBin) = explodeBins(j.right, bLo, bHi, width, maxBins)
    val canonical = EqualTo(binOf(Greatest(Seq(aLo, bLo)), width), lBin)
    val cond = And(And(EqualTo(lBin, rBin), j.condition.get), canonical)
    Project(j.output, Join(lx, rx, Inner, Some(cond), JoinHint.NONE))
  }
}
