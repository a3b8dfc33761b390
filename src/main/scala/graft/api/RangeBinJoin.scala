package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, GreaterThan, LessThanOrEqual}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.LogicalPlanExec
import org.apache.spark.sql.types.LongType

import graft.plans.RangeBinJoinRule

/** Binned rewrite of a pure interval join — the range-join pattern a
  * declarative engine needs when there is NO equi key to hash on.
  *
  * Spark plans a join whose only condition is a range predicate
  * (`v > lo AND v <= hi`) as a BroadcastNestedLoopJoin: every left
  * row is compared against every right row, O(|L|·|R|) — the plan
  * that dies first at scale (at 100 TB it never finishes; the
  * ExtrasSuite "range-join regimes" test pins that the naive plan
  * really is a BNLJ). The standard fix (Flink/Trino interval joins,
  * DuckDB's IEJoin literature) re-expresses the range as an EQUI join
  * on a bucketed value: cut the number line into fixed-width bins,
  * send each right row to the single bin holding its value, send each
  * left row to every bin its interval overlaps, hash-join on the bin
  * id, and re-check the exact predicate on the (now tiny) co-binned
  * candidate set.
  *
  * Cost model: the left blowup is ⌊hi/W⌋ − ⌊lo/W⌋ + 1 rows — 2 when
  * the bin width W matches the interval width, which is why callers
  * should pick W ≈ the typical interval. Candidates per left row =
  * right rows in ≤ 2 bins ≈ 2·W·density, so the join is linear in
  * |L| + |R| for fixed W instead of quadratic. Everything downstream
  * of the explode is a plain shuffled equi-join: AQE can still pick
  * broadcast for a small side, skew-split a hot bin, and codegen the
  * residual filter.
  */
object RangeBinJoin {

  /** Inner-join `left` × `right` on `v ∈ (lo, hi]` (open-below,
    * closed-above — the trailing-window convention) without a
    * nested-loop plan. `loCol`/`hiCol` name BIGINT columns of `left`,
    * `valCol` a BIGINT column of `right`; all three must share a unit
    * (e.g. epoch µs). Output = all columns of both inputs; column
    * sets must be disjoint. `binWidth` is the bucket size in the same
    * unit — choose it close to the typical `hi − lo`.
    *
    * `maxBins` (default 4096) caps the per-row explode: a row whose
    * interval spans more bins fails at runtime with an actionable
    * message. This is deliberately default-ON — an uncapped outlier
    * interval silently turns the join quadratic-ish, which at scale
    * is a worse failure than a loud error; callers with legitimately
    * wide intervals should raise `binWidth` (preferred) or pass a
    * larger `maxBins` explicitly.
    */
  def intervalJoin(left: DataFrame, loCol: String, hiCol: String,
                   right: DataFrame, valCol: String,
                   binWidth: Long,
                   maxBins: Long = RangeBinJoinRule.MAX_BINS_DEFAULT): DataFrame = {
    checkArgs(left, Seq(loCol, hiCol), right, Seq(valCol), binWidth, maxBins)
    val (lo, hi, v) = (col(q(loCol)), col(q(hiCol)), col(q(valCol)))
    val j = analyzedJoin(left.join(right, v > lo && v <= hi))
    val And(GreaterThan(ve, loe), LessThanOrEqual(_, hie)) = j.condition.get
    LogicalPlanExec.ofRows(left.sparkSession,
      RangeBinJoinRule.binnedJoin(j, ve, loe, hie, binWidth, maxBins))
  }

  /** Interval × interval OVERLAP join: `left` × `right` on
    * `[aLo, aHi] ∩ [bLo, bHi] ≠ ∅` (closed intervals: touching
    * endpoints overlap) without a nested-loop plan — the second
    * range-join shape (point-in-interval is [[intervalJoin]]).
    *
    * Same binned rewrite, with one extra wrinkle: BOTH sides explode
    * into their covered bins, so an overlapping pair co-occurs in
    * every bin their intervals share — a naive residual filter would
    * emit duplicates and need a pairs-sized `distinct()` shuffle.
    * Instead each qualifying pair is emitted in exactly ONE canonical
    * bin: the bin holding the overlap START, `max(aLo, bLo)`. Both
    * intervals cover that instant by definition, so the pair is seen
    * there, and only there does the `max(aLo,bLo) div W = bin`
    * residual hold — dedup by construction, zero extra shuffles.
    *
    * Cost: blowup ≈ interval width / W + 1 per row per side (pick
    * `binWidth` ≈ the typical interval); candidates per bin are
    * density-bounded like [[intervalJoin]]. Everything downstream of
    * the explodes is one shuffled equi-join + a codegen'd filter —
    * AQE broadcast/skew handling applies unchanged.
    */
  def overlapJoin(left: DataFrame, aLoCol: String, aHiCol: String,
                  right: DataFrame, bLoCol: String, bHiCol: String,
                  binWidth: Long,
                  maxBins: Long = RangeBinJoinRule.MAX_BINS_DEFAULT): DataFrame = {
    checkArgs(left, Seq(aLoCol, aHiCol), right, Seq(bLoCol, bHiCol), binWidth, maxBins)
    val (aLo, aHi) = (col(q(aLoCol)), col(q(aHiCol)))
    val (bLo, bHi) = (col(q(bLoCol)), col(q(bHiCol)))
    val j = analyzedJoin(left.join(right, aLo <= bHi && bLo <= aHi))
    val And(LessThanOrEqual(aLoe, bHie), LessThanOrEqual(bLoe, aHie)) = j.condition.get
    LogicalPlanExec.ofRows(left.sparkSession,
      RangeBinJoinRule.overlapBinnedJoin(j, aLoe, aHie, bLoe, bHie, binWidth, maxBins))
  }

  private def checkArgs(left: DataFrame, leftCols: Seq[String],
                        right: DataFrame, rightCols: Seq[String],
                        binWidth: Long, maxBins: Long): Unit = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(maxBins > 0, s"maxBins must be positive, got $maxBins")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"column collision between sides: $overlap")
    for ((df, c) <- leftCols.map(left -> _) ++ rightCols.map(right -> _))
      require(df.schema(c).dataType == LongType,
        s"column $c must be BIGINT, got ${df.schema(c).dataType.sql}")
  }

  // backtick-quote the names (doubling embedded backticks) — a name
  // with spaces/dots/hyphens must not break the parse or resolve as
  // struct-field access (same escaping rule as Profiling.profile)
  private def q(name: String) = "`" + name.replace("`", "``") + "`"

  /** The naive join's analyzed Join node, whose resolved condition
    * the builders in [[RangeBinJoinRule]] rewrite; the result is
    * wrapped back into a DataFrame with `LogicalPlanExec.ofRows`, so
    * the API needs no session extension. */
  private def analyzedJoin(naive: DataFrame): Join =
    naive.queryExecution.analyzed.asInstanceOf[Join]
}
