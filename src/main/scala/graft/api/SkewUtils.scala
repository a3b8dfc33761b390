package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
import org.apache.spark.sql.graft.LogicalPlanExec

import graft.plans.SkewSaltJoinRule

/** Skew-handling utilities (SURVEY.md §4.3).
  *
  * Decision rule (pinned with plan evidence in ExtrasSuite
  * "skew regimes"):
  *
  *  1. DEFAULT: do nothing. A skewed shuffle feeding a spillable
  *     sort-merge join with AQE on (`adaptive.skewJoin.enabled`,
  *     default true) is rewritten at runtime — OptimizeSkewedJoin
  *     splits the hot reducer partition into
  *     `PartialReducerPartitionSpec`s and replicates the matching
  *     partition of the other side (`SortMergeJoin(skew=true)` in the
  *     final plan). This covers the common case; salting code there
  *     is dead weight and an extra shuffle.
  *  2. If the small side fits in memory: `broadcast(small)` — no
  *     shuffle of the big side at all, skew irrelevant.
  *  3. [[saltedJoin]] is for the regimes AQE does NOT rewrite: the
  *     hot key must be spread BEFORE the shuffle (skewed
  *     aggregation input, shuffled-hash paths, or a
  *     broadcast-impossible build side with a single dominating key
  *     — a null-like default, a celebrity user). The exchange hashes
  *     on (key, _graft_salt), so the hot key occupies nSalts reducer
  *     partitions by construction rather than by runtime rescue.
  */
object SkewUtils {

  /** Salted equi-join: the big (skewed) side scatters each row into
    * one of `nSalts` sub-keys via a deterministic hash of
    * `saltSource` (any well-distributed column, e.g. a row id); the
    * small side is replicated `nSalts`×; it is [[SkewSaltJoinRule]]'s
    * rewrite, applied to the plain join, so it needs no session
    * extension. Result rows are identical
    * to `big.join(small, bigKey === smallKey, "inner")` — but the
    * heaviest key's work is spread over `nSalts` tasks instead of 1.
    *
    * Cost model: replication multiplies the small side by `nSalts`,
    * so pick nSalts ≈ (heaviest-key rows / target rows per task) and
    * keep the replicated side comfortably shuffle-sized.
    */
  def saltedJoin(big: DataFrame, small: DataFrame,
      bigKey: Column, smallKey: Column, saltSource: Column,
      nSalts: Int): DataFrame = {
    require(nSalts > 0, "nSalts must be positive")
    val j = big.join(small, bigKey === smallKey, "inner")
      .queryExecution.analyzed.asInstanceOf[Join]
    // the salt source resolved against `big` — the join's left side
    // keeps big's attributes, so the expression binds to it unchanged
    val salt = big.select(saltSource).queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), _) => e
      case Project(Seq(e), _) => e
    }
    LogicalPlanExec.ofRows(big.sparkSession,
      SkewSaltJoinRule.rewrite(j, hintedIsLeft = true, nSalts, Seq(salt)))
  }
}
