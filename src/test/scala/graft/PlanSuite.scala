package graft

import scala.jdk.CollectionConverters._
import graft.queries.Relational

/** Plan-shape guards (SURVEY.md §5.6): the §4 "free from Catalyst"
  * claims, pinned so a refactor can't silently regress them — these
  * are exactly the properties that matter at 100 TB.
  */
class PlanSuite extends GraftSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("q_scan_filter_pushdown (#2): predicates reach the parquet scan") {
    val p = plan(Relational.qScanFilterPushdown(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate"), p)
  }

  test("q_scan_project (#1): column pruning — scan reads only the 4 projected columns") {
    val p = plan(Relational.qScanProject(spark, sf0001))
    assert(p.contains("ReadSchema"), p)
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(read.contains("l_orderkey") && read.contains("l_quantity"), read)
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"),
      s"scan must not read unprojected columns: $read")
  }

  test("q_join_broadcast (#6): dimension side broadcasts (no fact shuffle)") {
    val p = plan(Relational.qJoinBroadcast(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk_global (#29): orderBy+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.qTopkGlobal(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_group_sum (#14): two-phase HashAggregate (partial + final)") {
    val p = plan(Relational.qAggGroupSum(spark, sf0001))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q_join_semi/anti (#9/#10): planned as semi/anti joins, not materialized inner joins") {
    assert(plan(Relational.qJoinSemi(spark, sf0001)).contains("LeftSemi"))
    assert(plan(Relational.qJoinAnti(spark, sf0001)).contains("LeftAnti"))
  }

  test("q_subquery_scalar (#77): correlated subquery is decorrelated into an aggregate+join") {
    val p = plan(queries.Relational2.qSubqueryScalar(spark, sf0001))
    assert(p.contains("Join") && p.contains("HashAggregate"),
      s"expected decorrelated agg+join:\n$p")
    assert(!p.contains("ScalarSubquery"),
      s"no per-row scalar subquery execution allowed:\n$p")
  }

  test("q_subquery_in (#78): IN/NOT IN plan as semi/anti joins") {
    val p = plan(queries.Relational2.qSubqueryIn(spark, sf0001))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("q_stream_stream_join (#88): interval join keys on user — hash join + range filter, no nested loop") {
    val p = plan(queries.Streaming.qStreamStreamJoin(spark, sf0001))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"the equality on user_id must drive a hash/merge join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"the time-range condition must stay a post-join filter, not force a loop join:\n$p")
  }

  test("q_win_range_frame (#91): window frame is a RANGE frame, partitioned by customer") {
    val p = plan(queries.Relational2.qWinRangeFrame(spark, sf0001))
    assert(p.contains("RangeFrame"), s"expected a RANGE frame:\n$p")
    assert(p.contains("windowspecdefinition(o_custkey"),
      s"window must partition by customer (no global funnel):\n$p")
  }

  test("q_star_join_flagship (#93): dims broadcast, date filter pushed to the orders scan, partial+final agg") {
    val p = plan(queries.Relational2.qStarJoinFlagship(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"dimension hops must broadcast, never shuffle the fact side:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || (p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("PushedFilters")),
      s"the date range must reach the orders parquet scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"revenue agg must be partial+final:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("DPP (#93 shape): dim filter dynamically prunes a month-partitioned fact scan") {
    // The flagship's date filter is STATIC pushdown; at 100 TB the
    // fact is date-partitioned and the date predicate usually lives
    // on a dimension table — what saves the scan then is DYNAMIC
    // partition pruning. Prove it end-to-end: materialize orders
    // partitioned by month, move the 1995–1997 predicate onto a
    // month dimension, and assert (a) the DPP subquery is planted in
    // the fact scan, (b) the scan actually reads only the qualifying
    // partitions, (c) the answer equals the unpartitioned flagship's.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val orders = Tables.orders(spark, sf0001)
    orders.withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("o_month").parquet(s"$dir/orders_p")
    // the month dimension is parquet-backed: DPP's filtering side
    // must be a real scan+filter, not a LocalRelation
    orders.select(date_format(col("o_orderdate"), "yyyy-MM").as("m_month")).distinct()
      .withColumn("m_year", substring(col("m_month"), 1, 4).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/months")
    Seq("region", "nation", "customer", "lineitem").foreach { t =>
      spark.read.parquet(s"$sf0001/$t.parquet").createOrReplaceTempView(t)
    }
    spark.read.parquet(s"$dir/orders_p").createOrReplaceTempView("orders_p")
    spark.read.parquet(s"$dir/months").createOrReplaceTempView("months")
    val df = spark.sql(
      """SELECT n_name,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders_p ON o_custkey = c_custkey
        |JOIN months ON o_month = m_month
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA' AND m_year BETWEEN 1995 AND 1997
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
    // (a) plan property: the orders_p partition filter carries the
    // runtime subquery, not just the static isnotnull
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"month-partitioned fact scan must carry a DPP subquery:\n$p")
    // (c) correctness: identical to the flagship on the flat layout
    // (m_year 1995..1997 == o_orderdate in [1995-01-01, 1998-01-01))
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = queries.Relational2.qStarJoinFlagship(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want, s"DPP layout changed the answer: $got vs $want")
    // (b) runtime property: partitions read < partitions on disk.
    // QueryStageExec is a leaf, so TreeNode.collect won't cross AQE
    // stage boundaries — walk them explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => n +: walk(a.executedPlan)
      case q: QueryStageExec => n +: walk(q.plan)
      case _ => n +: n.children.flatMap(walk)
    }
    val factScan = walk(df.queryExecution.executedPlan).collectFirst {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("orders_p")) => f
    }.getOrElse(fail("no FileSourceScanExec over orders_p in the executed plan"))
    val totalMonths = spark.read.parquet(s"$dir/months").count()
    val readParts = factScan.metrics.get("numPartitions").map(_.value).getOrElse(-1L)
    assert(readParts > 0 && readParts < totalMonths,
      s"DPP must read fewer partitions ($readParts) than exist ($totalMonths)")
    // exactly the 36 qualifying months (data permitting — sf0.001
    // has orders in every 1995–1997 month)
    val qualMonths = spark.read.parquet(s"$dir/months")
      .filter(col("m_year").between(1995, 1997)).count()
    assert(readParts == qualMonths,
      s"DPP must read exactly the dim-qualifying months: $readParts vs $qualMonths")
  }

  test("q_string_agg (#94) / q_histogram (#97): both aggregate in two phases (map-side partial)") {
    // collect_set is object-based → ObjectHashAggregate; the partial
    // phase bounds shuffled bytes by per-group distinct values, which
    // is the 100 TB claim for the LISTAGG shape
    val pS = plan(queries.Relational3.qStringAgg(spark, sf0001))
    assert("ObjectHashAggregate".r.findAllIn(pS).size >= 2,
      s"collect_set must partial-aggregate map-side:\n$pS")
    val pH = plan(queries.Relational3.qHistogram(spark, sf0001))
    assert("HashAggregate".r.findAllIn(pH).size >= 2,
      s"histogram must be partial+final:\n$pH")
  }

  test("q_curate_flagship (#100): eval side broadcasts; no all-pairs join anywhere in the funnel") {
    val p = plan(queries.PipelineExtras.qCurateFlagship(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the decontamination stage must broadcast the eval shingles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dedup must stay a groupBy collapse, never an all-pairs compare:\n$p")
  }

  test("q_decontaminate (#83): eval shingles broadcast — corpus side never shuffles for the join") {
    val p = plan(queries.PipelineExtras.qDecontaminate(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark-sized eval side must broadcast:\n$p")
  }

  test("q_win_ntile (#27): no partition-less Window — global NTILE must not funnel into one task") {
    val exec = Relational.qWinNtile(spark, sf0001)
      .queryExecution.executedPlan
    val globalWindows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"found Window with empty partitionSpec (single-task funnel):\n$exec")
    // and the result still matches exact global ntile semantics
    val got = Relational.qWinNtile(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(org.apache.spark.sql.functions.col("c_acctbal").desc,
        org.apache.spark.sql.functions.col("c_custkey"))
    val want = Tables.customer(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("c_custkey"),
        org.apache.spark.sql.functions.ntile(4).over(w).as("q"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want, "bucketed ntile must equal the naive global-window ntile")
  }

  test("q_join_lateral (#95): correlated LIMIT decorrelates to a window — no per-row subquery, no loop join") {
    val p = plan(queries.Relational3.qJoinLateral(spark, sf0001))
    assert(p.contains("Window"),
      s"the lateral ORDER BY+LIMIT must become a partitioned window:\n$p")
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelation must yield an equi-join on the correlation key:\n$p")
  }

  test("q_sessionize_gap (#96): both window passes share ONE user_id exchange") {
    val p = plan(queries.Relational3.qSessionizeGap(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    // lag/new_sess + running sum ride the same (user_id) sort order —
    // one exchange; the (user_id, session_id) aggregate adds at most
    // one more. Three+ would mean the windows stopped sharing.
    assert(exchanges <= 2,
      s"expected the two window specs to reuse one shuffle (got $exchanges):\n$p")
    assert("Window".r.findAllIn(p).size >= 1, p)
  }

  test("q_join_range_binned (#101): no nested-loop join — the bin rewrite keeps the plan hash-joinable") {
    val p = plan(queries.Relational3.qJoinRangeBinned(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pure interval join must execute as a binned equi-join:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the interval side's bin explode in the plan:\n$p")
  }

  test("q_join_asof_binned (#112): no BNLJ/cartesian; the lookback is a carry window, not a history join") {
    val p = plan(queries.Relational3.qJoinAsofBinned(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned as-of must stay equi-join shaped:\n$p")
    // the raw-history candidate join is bin-scoped: its condition
    // carries the _bin equality alongside the key
    assert(p.contains("_bin"), s"expected the bin-scoped candidate join:\n$p")
  }

  test("q_join_asof_forward (#114): the forward dual keeps the same equi-join shape") {
    val p = plan(queries.Relational3.qJoinAsofForward(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"forward as-of must stay equi-join shaped:\n$p")
    assert(p.contains("_bin"), s"expected the bin-scoped candidate join:\n$p")
  }

  test("q_gapfill (#115): span explode + user-keyed windows — no calendar cross-join, no partition-less window") {
    val p = plan(queries.Analytics.qGapfill(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"gapfill must not cross-join a calendar:\n$p")
    assert(p.contains("sequence(_mind"), s"expected the per-user span sequence:\n$p")
  }

  test("q_dedup_embed_bucketed (#111): no cartesian/BNLJ — candidates via (band, key) equi-join") {
    val p = plan(queries.PipelineExtras.qDedupEmbedBucketed(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed embedding dedup must never go all-pairs:\n$p")
    // r11: the banded projection is localCheckpoint-materialized ONCE
    // and read by both self-join sides, so the visible plan shows the
    // checkpointed (id, band, key) scan rather than the explode (which
    // ran exactly once, inside the checkpoint job). Pin that BOTH
    // sides read the checkpoint — two ExistingRDD scans of band/key.
    assert("Scan ExistingRDD\\[[^\\]]*band".r.findAllIn(p).size == 2,
      s"both candidate-join sides must reuse the one materialized band projection:\n$p")
    // and the explode is still projection-side where it runs: pin on
    // the un-checkpointed generator
    val gen = plan(graft.api.EmbedBlocking.bandKeys(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding"))
    assert(gen.contains("Generate explode"), s"expected the band-key explode:\n$gen")
  }

  test("q_join_interval_overlap (#123): no cartesian/BNLJ — overlap via binned equi-join") {
    val p = plan(queries.Relational3.qJoinIntervalOverlap(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval-overlap must not be a nested loop:\n$p")
    // and no distinct/aggregate for dedup — pairs are unique by the
    // canonical-bin construction
    assert(!p.contains("HashAggregate"),
      s"overlap join must not need a dedup aggregate:\n$p")
  }

  test("skew_salt hint rule: hinted inner join pre-salts the shuffle; un-hinted plans untouched") {
    import org.apache.spark.sql.functions.col
    val big = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val small = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"))
    val base = big.join(small, col("l_orderkey") === col("o_orderkey"))
    val hinted = big.hint("skew_salt", 8)
      .join(small, col("l_orderkey") === col("o_orderkey"))
    // force the shuffled path so the exchange keys are visible
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ph = plan(hinted)
      assert(ph.contains("_graft_salt"),
        s"hinted join must carry the deterministic row salt:\n$ph")
      assert(ph.contains("_graft_rep"),
        s"the other side must replicate via the exploded sequence:\n$ph")
      // the salt reaches the JOIN keys (and hence the exchange
      // partitioning EnsureRequirements derives from them) — that is
      // the whole point: the hot key is spread before the shuffle,
      // not rescued after
      assert("(SortMergeJoin|ShuffledHashJoin) \\[[^\\]]*_graft_salt".r
          .findFirstIn(ph).isDefined,
        s"salt must be part of the equi-join keys:\n$ph")
      val pe = hinted.queryExecution.executedPlan.toString
      assert("hashpartitioning\\([^)]*_graft_salt".r.findFirstIn(pe).isDefined,
        s"salt must reach the physical exchange partitioning:\n$pe")
      // un-hinted plan is untouched
      val pu = plan(base)
      assert(!pu.contains("_graft_salt") && !pu.contains("_graft_rep"),
        s"un-hinted join must not be salted:\n$pu")
      // rewrite is invisible in the results
      val want = base.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val got = hinted.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(got == want, "salted join must return exactly the unsalted rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skew_salt hint rule: outer joins refused — hint is a clean no-op") {
    import org.apache.spark.sql.functions.col
    val big = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_quantity"))
    val small = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"))
    val base = big.join(small, col("l_orderkey") === col("o_orderkey"), "left")
    val hinted = big.hint("skew_salt", 8)
      .join(small, col("l_orderkey") === col("o_orderkey"), "left")
    val ph = plan(hinted)
    assert(!ph.contains("_graft_salt") && !ph.contains("_graft_rep"),
      s"a left join must not be salted (per-replica null extension would be wrong):\n$ph")
    val want = base.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val got = hinted.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(got == want, "refused hint must leave results identical")
  }

  test("q_stream_neardup (#124) batch dual: band equi-join, no cartesian") {
    val p = plan(graft.api.NearDupStream.nearDupBatch(
      Tables.documents(spark, sf0001), "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from the band equi-join:\n$p")
  }

  test("q_profile_stats_fast (#119): expand-free single pass — sketches live, no multi-distinct Expand") {
    // the 30-agg list overflows the default plan-string truncation and
    // hides the sketch functions from the assertion
    val prev = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "5000")
    val p = try plan(queries.Analytics.qProfileStatsFast(spark, sf0001))
            finally spark.conf.set("spark.sql.debug.maxToStringFields", prev)
    assert(!p.contains("Expand"),
      s"the approx ANALYZE must not pay the multi-distinct expand:\n$p")
    // the sanity booleans must keep the sketches in the plan — if
    // Catalyst pruned them the row would demonstrate nothing
    assert(p.contains("kll_sketch_agg"), s"KLL sketches must stay live:\n$p")
    // r18 optimization round: the distinct estimator is the theta
    // sketch (HLL++ at rsd 0.02 cost ~1.4 s of interpreted buffer
    // updates at sf0.1; theta is 5× cheaper, exact below 4096)
    assert(p.contains("theta_sketch_agg"),
      s"distinct sketches must stay live:\n$p")
    // exactly one pass over lineitem
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"one aggregate pass means one scan:\n$p")
  }

  test("q_text_bm25 (#102): top-10 via TakeOrderedAndProject; documents scanned once") {
    // the public surface materializes+unpersists (r9 leak fix), so pin
    // the plan on the lazy frames behind it
    val (df, perDoc) = queries.SearchDedup.bm25Frames(
      spark, sf0001, Seq("hash", "join", "merge"), 10)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-10 must not be a full sort:\n$p")
    // "one corpus pass": the per-doc table must be CACHED so the
    // global-stats branch reads the cache instead of re-scanning the
    // corpus (exchange reuse doesn't fire across the differing
    // consumer subtrees — same recipe as q_text_tfidf). The plan
    // STRING still prints the parquet scan under each
    // InMemoryTableScan, so assert the cache node, not scan count.
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("InMemoryTableScan") || exec.contains("ReusedExchange"),
      s"per-doc table must be cached (one corpus materialization):\n$exec")
    perDoc.unpersist()
  }

  test("pq_adc: codegen'd in-stage, unsigned byte mask correct") {
    import org.apache.spark.sql.functions._
    graft.functions.PqAdc.register(spark)
    // per-row codes via UDF: an all-literal call would constant-fold
    // at optimization time and prove nothing about the executed plan.
    // m=1, k=256: even rows code 0 -> lut[0]; odd rows byte -1 = code
    // 255 unsigned -> lut[255] (the signed-byte mask case)
    val mk = udf((i: Long) => Array[Byte](if (i % 2 == 0) 0 else -1))
    val lut = typedlit((0 until 256).map(i =>
      if (i == 255) 7.5 else if (i == 0) 2.5 else 0.0))
    val df2 = spark.range(6).withColumn("codes", mk(col("id"))).withColumn("lut", lut)
      .select(col("id"), expr("pq_adc(codes, lut)").as("d"))
    val got = df2.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L until 6L).foreach { i =>
      assert(got(i) == (if (i % 2 == 0) 2.5 else 7.5),
        s"row $i: ${got(i)} (byte -1 must index slot 255)")
    }
    // the ADC hot loop must run INSIDE whole-stage codegen (the `*`
    // prefix), not fall back to interpreted eval
    val plan = df2.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("pq_adc"),
      s"pq_adc must sit in a WholeStageCodegen project:\n$plan")
  }

  test("no undeclared partition-less Window remains anywhere in src/main") {
    // source-scan guard: a `Window.orderBy(...)` with no partitionBy is
    // the single-task global funnel q_win_ntile/zipWith were rebuilt to
    // avoid. The only sanctioned use carries an explicit
    // `global-window OK:` justification on the preceding lines.
    val srcRoot = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if l.contains("Window.orderBy") &&
              !lines.slice((i - 4).max(0), i).exists(_.contains("global-window OK:")) =>
            s"$p:${i + 1}: $l"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"partition-less Window without a 'global-window OK:' justification:\n${offenders.mkString("\n")}")
  }

  test("q_join_editdist (#129): candidates via variant equi-join — no cartesian/BNLJ anywhere") {
    val p = plan(queries.Linkage.qJoinEditdist(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the SymSpell-blocked similarity join must never go all-pairs:\n$p")
    // the candidate join is an equi-join keyed on the deletion variant
    assert(p.contains("variant"), s"expected the variant equi-join key in the plan:\n$p")
  }

  test("q_dedup_substring (#128): shingle semi-join is an equi-join; islands partition by doc") {
    val p = plan(queries.Linkage.qDedupSubstring(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"duplicate-passage detection must never go all-pairs:\n$p")
    // every window spec must partition by a sharding key — doc_id for
    // the island merge, the shingle fingerprint h for the r19
    // marked-positions min/max (which replaced the collect_list +
    // interpreted-HOF filter + re-explode round-trip). No GLOBAL
    // (unpartitioned) window may appear at any corpus size.
    val specs = "windowspecdefinition\\(([^,]*)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty &&
      specs.forall(s => s.contains("doc_id") || s.startsWith("h#")),
      s"windows must partition by doc_id (islands) or h (marked), got specs=$specs in:\n$p")
    assert(specs.exists(_.contains("doc_id")),
      s"island windows must partition by doc_id, got specs=$specs in:\n$p")
  }

  test("q_tpch_q21_flagship (#139): EXISTS/NOT EXISTS decorrelate to hash semi/anti joins; dims broadcast; top-k") {
    val p = plan(queries.Relational3.qTpchQ21Flagship(spark, sf0001))
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the <> residuals must ride the l_orderkey equi-joins, not a loop join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation dims must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not globally sort:\n$p")
  }

  test("q_graph_pagerank (#136): edge subtree shared via ReuseExchange — not re-derived per iteration") {
    // The lineitem self-join+distinct appears in all 5 iteration
    // subtrees; the lazy single-plan shape relies on ReuseExchange to
    // execute it once (VERDICT r12 #2 asked for exactly this pin).
    val df = queries.Analytics.qGraphPagerank(spark, sf0001)
    df.collect() // AQE resolves exchange reuse at runtime — inspect the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"PageRank's repeated subtrees must resolve to reused exchanges/stages:\n$p")
    // Count EXECUTED lineitem scans: walk the final adaptive plan,
    // descending into query stages but NOT into ReusedExchange (a
    // reused exchange re-reads shuffle files — no scan re-executes).
    // The plan STRING prints reused subtrees expanded, so counting
    // text lines would overcount massively; this walk counts work.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def liScans(plan: SparkPlan): Int = plan match {
      case _: ReusedExchangeExec => 0
      case a: AdaptiveSparkPlanExec => liScans(a.executedPlan)
      case q: QueryStageExec => liScans(q.plan)
      case other =>
        val self = if (other.getClass.getSimpleName.contains("FileSourceScan")
          && other.toString.contains("lineitem")) 1 else 0
        self + other.children.map(liScans).sum
    }
    // Full per-iteration re-derivation would execute the self-join's
    // two scans once per appearance (6 subtrees => ~12); reuse keeps
    // it at the self-join sides plus at most one AQE-broadcast
    // duplicate (broadcast and shuffle flavors of the same side are
    // distinct exchanges and cannot reuse each other).
    val n = liScans(df.queryExecution.executedPlan)
    assert(n >= 1 && n <= 3,
      s"expected <= 3 executed lineitem scans (self-join sides + 1 AQE-broadcast dup), got $n:\n$p")
  }

  test("q_funnel (#104): builds with zero Spark jobs; one user-keyed exchange, no join, no cache") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the events schema memo's one-time footer job belongs to the
    // reader, not to the query builder
    Tables.events(spark, sf0001)
    val sc = spark.sparkContext
    val (build, sync) = ("plansuite-funnel-build", "plansuite-funnel-sync")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    val df = try {
      sc.setJobGroup(build, "build q_funnel")
      val built = try queries.Analytics.qFunnel(spark, sf0001) finally sc.clearJobGroup()
      // the listener bus is FIFO: once the sync job's start arrives,
      // every job the builder started has been delivered too
      sc.setJobGroup(sync, "listener sync")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!groups.contains(sync) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      built
    } finally sc.removeSparkListener(listener)
    assert(groups.contains(sync), "the listener bus never delivered the sync job")
    val buildJobs = groups.asScala.count(_ == build)
    assert(buildJobs == 0, s"building q_funnel must start no Spark job, started $buildJobs")

    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    assert(!all.exists(_.isInstanceOf[BaseJoinExec]), s"no join allowed:\n$p")
    assert(!all.exists(_.isInstanceOf[InMemoryTableScanExec]), s"no cache allowed:\n$p")
    val exchanges = all.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    val userKeyed = exchanges.count {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "_u"
      case _ => false
    }
    assert(userKeyed == 1 && exchanges.count(_ == SinglePartition) == 1 &&
      exchanges.size == 2,
      s"expected one user-keyed exchange plus the single-partition final one:\n$p")
  }
}
