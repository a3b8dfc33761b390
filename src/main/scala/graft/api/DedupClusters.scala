package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-dup pairs — the TRANSITIVE closure
  * the pairwise dedup operators (q_dedup_minhash_df, q_dedup_*)
  * deliberately stop short of. A greedy "drop the higher id of every
  * pair" keeps every doc that is never an edge's higher endpoint,
  * which is NOT the set of cluster minima: in the chain 1–5, 3–5 the
  * doc 3 survives greedy but is transitively a near-dup of 1. Cluster
  * assignment makes "keep one exemplar per near-dup CLUSTER" exact.
  *
  * Algorithm: iterative min-label propagation (the standard
  * GraphX-free connected components) with a POINTER-JUMP per round —
  * label(v) first becomes min(label(v), min over neighbors' labels),
  * then label(v) ← label(label(v)) (path compression, one self-join
  * of the label table). Propagation alone needs diameter rounds; the
  * jump halves every label chain each round, so convergence is
  * O(log diameter) — a diameter-60 path labels in ~8 rounds
  * (suite-proven) instead of 60. Near-dup clusters are shallow
  * anyway (duplicates of a common source), but the bound no longer
  * depends on it. Each round is two joins + one aggregation over the
  * EDGE list (pairs-sized, not corpus-sized). The per-round `count`
  * action is the fixpoint check — driver-side control flow over
  * distributed data, the same shape as any iterative MLlib algorithm.
  *
  * Lineage: each round's label table is `localCheckpoint`ed (eager —
  * it doubles as the pre-unpersist materialization the cache+count
  * pair used to do, at the same cost). Without truncation the plan
  * CHAINS across rounds — a late executor loss would cascade
  * recomputation through every round — and the jump's self-join
  * makes every traversal of the un-truncated tree (e.g. the plan
  * description string generated per action) EXPONENTIAL in rounds.
  * Local checkpoints trade fault-tolerance of the truncated prefix
  * for plan truncation — the standard iterative-algorithm move; a
  * failed executor mid-assign restarts the assign, not the cluster.
  */
object DedupClusters {

  /** (doc_id, cluster) for every doc appearing in `pairs`
    * (columns doc_a, doc_b); cluster = min doc_id reachable via
    * pair edges. Docs in no pair are their own exemplar and are
    * simply absent here.
    *
    * Throws if labels have not converged within `maxIters` rounds —
    * with the pointer jump that means a component of diameter beyond
    * ~2^maxIters, i.e. effectively never — because silently returning
    * partial labels would break the one-exemplar-per-cluster
    * guarantee downstream. The returned DataFrame is materialized
    * (localCheckpoint'd — the product of the iteration); it is freed
    * by GC once unreferenced.
    */
  def assign(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // materialize the input ONCE before symmetrizing: the union below
    // reads its input twice, and `pairs` is typically the full
    // upstream dedup pipeline (shingle → minhash → band join) —
    // without this, that whole pipeline executes twice just to build
    // the edge list (measured ~2× the pipeline cost on q_dedup_clusters)
    val p = pairs
      .select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"))
      .localCheckpoint(true)
    // normalize BEFORE symmetrizing (r18 optimization round): the
    // old shape ran distinct() over the already-doubled union (2×
    // the rows through the dedup shuffle). Orienting each pair
    // (least, greatest) first dedups half the volume, and mirroring
    // the deduped non-self rows reproduces EXACTLY the old edge set:
    // distinct({(a,b)} ∪ {(b,a)}) == norm ∪ mirror(norm \ selfloops).
    val norm = p
      .select(least(col("doc_a"), col("doc_b")).as("src"),
        greatest(col("doc_a"), col("doc_b")).as("dst"))
      .distinct()
    val edges = norm
      .unionByName(norm.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // Seeded labels (r18 optimization round): label(v) = min(v, min
    // neighbor) is exactly what the first propagation round computes
    // from identity labels — but from identity labels neighborMin is
    // just min(dst) per src, so ONE aggregation over the edge list
    // replaces the old identity-label init (distinct + checkpoint)
    // PLUS the whole first join round. Strictly less work at any
    // scale (the groupBy shuffles the same edge list the first round
    // joined); the fixpoint reached is unchanged — seeding only
    // advances the iteration's starting point.
    // localCheckpoint like every later round's table: labels is then
    // uniformly GC-freed and no per-round unpersist is needed (it
    // would be a no-op from round 2 on anyway — checkpointed Datasets
    // are not CacheManager entries)
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("_mn"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("_mn")).as("cluster"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      // min neighbor label per node: one edge-list join + one agg
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster").as("_nc")), "dst")
        .groupBy(col("src").as("doc_id")).agg(min(col("_nc")).as("_minNc"))
      val joined = labels.join(neighborMin, Seq("doc_id"), "left").cache()
      // propagation-only change count is a valid fixpoint check even
      // with the jump below: at the propagation fixpoint labels are
      // already uniform per component, so the jump is a no-op too
      changed = joined.filter(col("_minNc") < col("cluster")).count()
      if (changed > 0) {
        val prop = joined.select(col("doc_id"),
          least(col("cluster"), coalesce(col("_minNc"), col("cluster"))).as("cluster"))
        // pointer jump: label(v) <- label(label(v)). Every cluster id IS
        // a node id with a row in `prop`, so the left join always hits;
        // coalesce is belt-and-braces. prop is a projection over the
        // cached `joined` — both join inputs re-read the cache.
        val jumpMap = prop.select(col("doc_id").as("_jc"), col("cluster").as("_jl"))
        val next0 = prop.join(jumpMap, col("cluster") === col("_jc"), "left")
          .select(col("doc_id"), coalesce(col("_jl"), col("cluster")).as("cluster"))
        val next = next0.localCheckpoint(true) // eager: materialize + truncate
        labels = next
      }
      // changed == 0: prop == labels and the jump is a no-op (comment
      // above) — skip materializing an identical label table. Every
      // assign() ends on such a confirmation round, so this saves one
      // join + checkpoint job per call at every scale (r18 opt round).
      joined.unpersist()
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"DedupClusters did not converge in $maxIters rounds " +
          s"($changed labels still moving) — raise maxIters for components deeper than that")
    labels
  }
}
