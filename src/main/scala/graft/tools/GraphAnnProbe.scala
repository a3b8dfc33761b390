package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.NeighborGraphAnn

/** Probe-only latency record for the persisted neighbor-graph ANN
  * (VERDICT r13 Next-round #4): builds + [[NeighborGraphAnn.save]]s
  * the index for a data dir ONCE (timed separately), then times
  * [[NeighborGraphAnn.topKLoaded]] min-of-3 per QUERY-BATCH SIZE —
  * so BASELINE.md can grade the QUERY cost of the graph family apart
  * from its build, exactly like IvfIndex's persisted probes.
  *
  * r16 (VERDICT r15 Next-round #3) adds the two claims the r15 fix
  * left asserted-not-measured:
  *  - **batch amortization**: `nQueries` takes a comma list
  *    (e.g. 50,200,800) and each size is timed separately — the beam
  *    search is (hops + 2) join ROUNDS whose per-round latency is
  *    dominated by the index-side materialization, so per-query cost
  *    should fall ~linearly with batch size until beam·deg·batch rows
  *    rival the index itself.
  *  - **recall vs brute force at scale**: `recallSample > 0` computes
  *    exact top-k for that many sampled queries (one broadcast
  *    crossJoin pass over the corpus — 50 queries × n vectors of
  *    fvec_dot) and reports mean recall@k of the graph answers, so
  *    the suite's fixture-scale floor (0.85) gets a measured sf10
  *    counterpart.
  *
  * Usage: `runMain graft.tools.GraphAnnProbe [dataDir] [indexDir]
  * [nQueries[,nQueries...]] [recallSample]`
  */
object GraphAnnProbe {
  def main(args: Array[String]): Unit = {
    val dataDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val indexDir = args.lift(1).getOrElse("/tmp/graft_gann_probe")
    val batches = args.lift(2).getOrElse("50").split(",").map(_.trim.toInt).toSeq
    val recallSample = args.lift(3).map(_.toInt).getOrElse(0)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m") // fixture-scale splits (see Bench)
      .config("spark.sql.files.openCostInBytes", "131072")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // search-parameter overrides for experiments (defaults mirror the
    // API defaults); GRAFT_GANN_REUSE=1 skips the build when the index
    // dir already has a committed version (probe search params against
    // one build without paying the build each time)
    val pBeam = sys.env.get("GRAFT_GANN_BEAM").map(_.toInt)
    val pHops = sys.env.get("GRAFT_GANN_HOPS").map(_.toInt)
    val pEntries = sys.env.get("GRAFT_GANN_ENTRIES").map(_.toInt)
    val e = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val n = e.count()
    val reuse = sys.env.get("GRAFT_GANN_REUSE").contains("1") &&
      NeighborGraphAnn.hasIndex(spark, indexDir)
    val t0 = System.nanoTime()
    if (!reuse) {
      val graph = NeighborGraphAnn.build(spark, e, "vec_id", "embedding")
      NeighborGraphAnn.save(spark, indexDir, graph, e, "vec_id", "embedding")
    }
    val buildSec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    def searched(q: org.apache.spark.sql.DataFrame, k: Int) =
      NeighborGraphAnn.topKLoaded(spark, indexDir, q, k = k,
        beam = pBeam.getOrElse(24),
        hops = pHops.getOrElse(NeighborGraphAnn.defaultHops(n)),
        entries = pEntries.getOrElse(0)) // 0 = auto (defaultEntries)
    // Decomposition baseline (r15, VERDICT r14 #3): one bare scan of
    // the two persisted index tables — the irreducible I/O floor a
    // probe must pay at least once. probe_sec near scan_sec ⇒ the
    // search joins are cheap and the cost is the index read; probe
    // growing like N× scan_sec ⇒ the hops are re-scanning.
    val (edges, vecs) = NeighborGraphAnn.load(spark, indexDir)
    val s0 = System.nanoTime()
    edges.count(); vecs.count()
    val scanSec = (System.nanoTime() - s0) / 1e9
    println(f"""{"probe":"graph_ann","data":"$dataDir","n_vectors":$n,"build_save_sec":$buildSec%.3f,"scan_sec":$scanSec%.3f}""")
    for (nQ <- batches) {
      val q = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint(true) // query-set prep is not probe cost
      val probes = (1 to 3).map { _ =>
        val p0 = System.nanoTime()
        searched(q, 5).count()
        val t = (System.nanoTime() - p0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"""{"probe":"graph_ann_batch","data":"$dataDir","n_vectors":$n,"n_queries":$nQ,"probe_sec_min3":${probes.min}%.3f,"per_query_ms":${probes.min * 1000 / nQ}%.2f,"probe_reps":[${probes.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    if (recallSample > 0) {
      graft.functions.FloatVecDot.register(spark)
      val k = 5
      val recallMode = args.lift(4).getOrElse("plant")
      // "plant" (default; the standard ANN-benchmark protocol): each
      // query is a CORPUS VECTOR deterministically perturbed to
      // cos ≈ 0.95 of its source, so ground truth contains a real
      // near neighbor and the probe measures NAVIGATION. "iid" uses
      // raw corpus vectors as queries — on THIS fixture that is the
      // no-locality adversarial regime (measured r16: zero pairs
      // above cosine 0.7 in the whole base corpus; the true top-5 of
      // an iid query are noise maxima at cos ≈ 0.5, which no
      // sublinear method can find — recall there measures the
      // impossibility of the regime, not the quality of the index).
      val qBase = e.filter(col("vec_id") < recallSample)
      // planted qids are offset out of the corpus id space: the
      // search's qid != nid self-exclusion is for shared-id queries,
      // and here the SOURCE vector is the true answer, not a self-hit
      val q = (if (recallMode == "plant")
        qBase.select((col("vec_id") + lit(1000000000000L)).as("qid"), expr(
          // eps = 0.07 on uniform[-1,1] md5-noise ⇒ cos(q, src) ≈ 0.95
          """transform(embedding, (x, j) ->
             x + CAST(0.07 * (CAST(conv(substring(md5(concat('gann-q:',
               CAST(vec_id AS STRING), ':', CAST(j AS STRING))), 1, 8), 16, 10) AS DOUBLE)
               / 2147483648.0 - 1.0) AS FLOAT))""").as("_raw"))
          .select(col("qid"), expr(
            "transform(_raw, x -> CAST(x / sqrt(aggregate(_raw, CAST(0.0 AS DOUBLE), (a, v) -> a + v * v)) AS FLOAT))")
            .as("qvec"))
      else
        qBase.select(col("vec_id").as("qid"), col("embedding").as("qvec")))
        .localCheckpoint(true)
      val got = searched(q, k)
        .select(col("qid"), col("nid")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      // exact top-k: one broadcast pass over the corpus
      val want = broadcast(q)
        .crossJoin(e.select(col("vec_id").as("nid"), col("embedding").as("ne")))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          expr("fvec_dot(qvec, ne)").as("cos_sim"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("cos_sim").desc, col("nid"))))
        .filter(col("rn") <= k)
        .select(col("qid"), col("nid"), col("rn")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(r => (r.getLong(1), r.getInt(2))).toSet).toMap
      val want1 = want.view.mapValues(s => s.minBy(_._2)._1).toMap
      val wantIds = want.view.mapValues(_.map(_._1)).toMap
      val recalls = wantIds.toSeq.map { case (qid, t) =>
        (got.getOrElse(qid, Set.empty) & t).size.toDouble / t.size }
      val mean = recalls.sum / recalls.size
      // recall@1: the TRUE nearest (brute rank 1) found anywhere in
      // the returned top-k — in plant mode this is "did navigation
      // reach the planted source", the claim the index exists for
      val top1 = want1.toSeq.map { case (qid, t1) =>
        if (got.getOrElse(qid, Set.empty).contains(t1)) 1.0 else 0.0 }
      val r1 = top1.sum / top1.size
      println(f"""{"probe":"graph_ann_recall","data":"$dataDir","n_vectors":$n,"sample":$recallSample,"k":$k,"mode":"$recallMode","mean_recall":$mean%.4f,"min_recall":${recalls.min}%.4f,"recall_at_1":$r1%.4f}""")
    }
    spark.stop()
  }
}
