package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Fixture-scale split sizing (r14): the brief's "size
      // maxPartitionBytes so partitions fit/parallelize at the target
      // SF". Default 128 MB/4 MB is tuned for TB-scale scans; these
      // corpora are 50–500 MB of HEAVILY CPU-bound bytes (md5
      // shingling, codegen dot products), where the defaults pack the
      // whole table into 1–2 tasks and serialize 32 cores behind one.
      // 4 MB splits / 128 KB open cost give file-level parallelism on
      // the sharded GenScale sets without changing any result.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "131072")
      // r18 optimization round: let AQE re-plan CACHED plans too (off
      // by default). Without it every .cache()/persist materialization
      // keeps the static shuffle partition count, so the engine's
      // cached intermediates (minhash postings/candidates, jaccard
      // stats, CC edge lists …) carry 32–64 near-empty partitions at
      // fixture scale and every downstream map stage pays per-task
      // dispatch for nothing — measured 830→55 tasks / 31.7→2.7 s of
      // task time on q_dedup_clusters, with identical results. The
      // conf is scale-neutral: AQE coalesces toward
      // advisoryPartitionSizeInBytes, so TB-scale caches keep their
      // parallelism; only near-empty partitions collapse.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // uniform timestamp flavor for the whole session (see Verify)
    graft.Tables.setEventsReadConfs(spark)
    // Warm up: touch every table once so footer/page-cache and JVM
    // warmup cost isn't attributed to whichever query runs first.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try graft.Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    // Optional comma-separated filter for targeted profiling runs. An
    // explicit filter overrides benchExclude — profiling an excluded
    // query is the most likely reason to filter at all.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // SPARK_GRAFT_SCALE_PROBE=1 (r19): restrict to the compute-heavy
    // rows (the slowest of the r18 driver record). Core-count scaling
    // is invisible on the full set — 120 of 137 queries run 0.05–0.4 s
    // at sf0.1, dominated by planning/AQE dispatch, so 8-vs-32-core
    // ratios read ≈1 no matter what the engine does (VERDICT r18 §
    // scaling). This subset is where tasks, not overhead, dominate.
    // An explicit SPARK_GRAFT_QUERIES filter still wins.
    val heavySubset = Set(
      "q_dedup_ngram_jaccard", "q_dedup_containment", "q_dedup_clusters",
      "q_dedup_canonical", "q_profile_stats", "q_stream_neardup",
      "q_dedup_substring", "q_dedup_contain_minhash", "q_dedup_minhash_df",
      "q_dedup_embed_bucketed")
    val hotSet = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None if sys.env.contains("SPARK_GRAFT_SCALE_PROBE") =>
        SparkEntry.queries.filter { case (n, _) => heavySubset(n) }
      case None => SparkEntry.queries -- SparkEntry.benchExclude
    }
    // Min-of-N protocol (default 3): the min is the shared-box noise
    // floor estimator — a single-shot time on a busy box swings ±3×
    // on unchanged code (observed rounds 2–4). Cache is cleared
    // between EVERY run: without this, later queries inherit the whole
    // run's cache residue and their times depend on map iteration
    // order (eviction churn, not plan cost).
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    // Per-query failures are first-class output, not silent -1s: a
    // query that throws records its exception class+message, and the
    // summary carries a nonzero "failed" count — a red bench must not
    // parse as green (VERDICT r10: 31 crashed queries looked like a
    // slow-but-valid run to a lazy reader).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = hotSet.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   errors.getOrElseUpdate(name,
                     (e.getClass.getSimpleName + ": " +
                       String.valueOf(e.getMessage)).take(160))
                   false
                 }
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (t, ok)
      }
      name -> times
    }
    // full per-rep spread to a side file (BASELINE.md bookkeeping);
    // the stdout line stays min-only so the driver's 2 KB tail capture
    // still holds the whole JSON. Locale.ROOT: a comma decimal
    // separator would corrupt the JSON.
    val spread = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map { case (t, ok) =>
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(if (ok) t else -t))
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SPREAD_OUT", "/tmp/graft_bench_spread.json")),
      spread.getBytes("UTF-8"))
    // min over SUCCESSFUL reps only — a fast failing rep must not win
    // the min and masquerade as a good time; all-reps-failed → -1
    val mins = results.map { case (k, v) =>
      val good = v.collect { case (t, true) => t }
      k -> (if (good.nonEmpty) good.min else -1.0)
    }
    def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // Noise self-diagnosis in the stdout line itself: per-query
    // max/min ratio over successful reps, summarized as median and
    // p90. A quiet box sits near 1.0–1.5; the round-7 driver record
    // (contended box, 10–56× blowups) would have printed median ≈ 2+
    // and been discardable on sight without re-running. Rule (also in
    // BASELINE.md): discard a record whose trivial-query floor is ≥2×
    // the committed min — these ratios are how the record tells you.
    val ratios = results.values.toSeq
      .map(v => v.collect { case (t, true) => t })
      .filter(g => g.size >= 2 && g.min > 1e-3)
      .map(g => g.max / g.min)
      .sorted
    def pct(p: Double) = if (ratios.isEmpty) -1.0
      else graft.util.Stats.nearestRank(ratios.toIndexedSeq, p)
    val spreadPath = sys.env.getOrElse("SPARK_GRAFT_SPREAD_OUT", "/tmp/graft_bench_spread.json")
    // %.3f on query mins keeps the 91-query line compact enough for
    // the driver's bounded tail capture (raw Double.toString ~doubles it).
    val qs = mins.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // total sums SUCCESSFUL mins only — summing -1 sentinels would
    // make a crashing round look FASTER than a healthy one
    val total = mins.values.filter(_ >= 0).sum
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, m) => jstr(k) + ":" + jstr(m) }
      .mkString("{", ",", "}")
    // cpus/default_parallelism (r19): ground truth for the driver's
    // suspect_cpus_ignored heuristic — the r18 record was flagged
    // because nothing in the emitted JSON proved which core count the
    // session actually ran with. defaultParallelism comes from the
    // LIVE SparkContext, not the env var, so a bench that silently
    // ignored $SPARK_GRAFT_CPUS would now be visibly lying.
    val par = spark.sparkContext.defaultParallelism
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","cpus":$cpus,"default_parallelism":$par,"reps":$reps,"failed":${errors.size},"errors":$errJson,"noise_ratio_median":${f3(pct(0.5))},"noise_ratio_p90":${f3(pct(0.9))},"spread_file":"$spreadPath","queries":$qs,"sf":"$sfDir"}""")
    // Second, COMPACT summary line (<200 bytes) printed LAST: at 137+
    // queries the full line above is ~3.5 KB, but the driver's tail
    // capture keeps only the final ~2 KB of stdout — r12/r13 records
    // came back "parsed": null because the head (metric/value/failed)
    // was truncated away. The tail always contains this whole line.
    val summaryLine = s"""{"metric":"total_summary","value":${f3(total)},"unit":"sec","cpus":$cpus,"default_parallelism":$par,"n_queries":${mins.size},"reps":$reps,"failed":${errors.size},"noise_ratio_median":${f3(pct(0.5))},"noise_ratio_p90":${f3(pct(0.9))},"sf":"$sfDir"}"""
    println(summaryLine)
    // Belt-and-braces for the driver's bounded tail capture: the same
    // compact summary also lands in a FILE (cwd = repo root when the
    // driver runs `sbt runMain`), so even if stdout framing changes
    // again the round's bench result survives machine-readably.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SUMMARY_OUT", "BENCH_SUMMARY.json")),
      (summaryLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] summary file write failed: ${e.getMessage}") }
    spark.stop()
  }
}
