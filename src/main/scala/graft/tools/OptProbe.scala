package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** r18 optimization scratch probe: times experiment variants of hot
  * operators in ONE bench-shaped JVM (same confs as graft.Bench) so
  * before/after plan shapes can be compared warm, without the
  * cold-JVM penalty of separate runs. Throwaway measurement tooling —
  * not part of the query surface.
  *
  * Usage: OptProbe <sfDir> <experiment> [reps]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val exp = args(1)
    val reps = if (args.length > 2) args(2).toIntOption.getOrElse(5) else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", sys.env.getOrElse("GRAFT_UI", "false"))
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.setEventsReadConfs(spark)

    def time(name: String)(mk: => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = mk.count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (t, n)
      }
      println(f"[probe] $name%-34s min=${times.map(_._1).min}%6.3f  " +
        f"all=${times.map(t => f"${t._1}%.2f").mkString(",")}  rows=${times.head._2}")
    }

    // noop sink: computes EVERY column (guide §1.4) — count() over a
    // bare global aggregate prunes the aggregate expressions away
    def timeNoop(name: String)(mk: => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"[noop ] $name%-34s min=${times.min}%6.3f  " +
        f"all=${times.map(t => f"$t%.2f").mkString(",")}")
    }

    exp match {
      case "profile" =>
        val li = graft.Tables.lineitem(spark, sfDir)
        val cols = Seq("l_linenumber", "l_orderkey", "l_partkey", "l_quantity", "l_suppkey")
        graft.functions.KllQuantile.register(spark)
        // (a) shipped fast path
        time("fast_shipped") {
          graft.api.Profiling.profileStats(li, cols, exact = false)
        }
        // (b) basic declarative aggs only (codegen-able)
        timeNoop("fast_base_only") {
          val aggs = cols.flatMap { c => Seq(
            sum(col(c).isNull.cast("long")),
            min(col(c).cast("double")), max(col(c).cast("double")),
            round(avg(col(c).cast("double")), 6)) }
          li.agg(aggs.head, aggs.tail: _*)
        }
        // (c) base + HLL only
        timeNoop("fast_base_hll") {
          val aggs = cols.flatMap { c => Seq(
            sum(col(c).isNull.cast("long")),
            approx_count_distinct(col(c), 0.02),
            min(col(c).cast("double")), max(col(c).cast("double")),
            round(avg(col(c).cast("double")), 6)) }
          li.agg(aggs.head, aggs.tail: _*)
        }
        // (d) base + KLL only
        timeNoop("fast_base_kll") {
          val aggs = cols.flatMap { c => Seq(
            sum(col(c).isNull.cast("long")),
            expr(s"kll_sketch_agg(CAST($c AS DOUBLE))"),
            min(col(c).cast("double")), max(col(c).cast("double")),
            round(avg(col(c).cast("double")), 6)) }
          li.agg(aggs.head, aggs.tail: _*)
        }
        // (e) exact multi-distinct (the q_profile_stats shape)
        time("exact_shipped") {
          graft.api.Profiling.profileStats(li, cols, exact = true)
        }
        // (f) scan floor
        time("scan_floor") { li.select(cols.map(col): _*) }
        // (g) base + HLL + KLL, no stack/orderBy
        timeNoop("fast_hll_kll_nostack") {
          val aggs = cols.flatMap { c => Seq(
            sum(col(c).isNull.cast("long")),
            approx_count_distinct(col(c), 0.02),
            expr(s"kll_sketch_agg(CAST($c AS DOUBLE))"),
            min(col(c).cast("double")), max(col(c).cast("double")),
            round(avg(col(c).cast("double")), 6)) }
          li.agg(aggs.head, aggs.tail: _*)
        }
        // (h) shipped fast minus the trailing orderBy
        time("fast_shipped_noorder") {
          val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
            val d = col(c).cast("double")
            Seq(
              sum(col(c).isNull.cast("long")).as(s"nn_$i"),
              approx_count_distinct(col(c), 0.02).as(s"nd_$i"),
              min(d).as(s"mn_$i"), max(d).as(s"mx_$i"),
              round(avg(d), 6).as(s"av_$i"),
              expr(s"kll_sketch_agg(CAST($c AS DOUBLE))").as(s"kll_$i")) }
          val one = li.agg(aggs.head, aggs.tail: _*)
          val withQ = cols.indices.foldLeft(one) { (acc, i) =>
            acc.withColumn(s"q_$i", expr(s"kll_quantiles(kll_$i, array(0.5D, 0.95D))"))
          }
          val stackArgs = cols.indices.map(i =>
            s"'${cols(i)}', nn_$i, nd_$i, mn_$i, mx_$i, av_$i, q_$i[0], q_$i[1]").mkString(", ")
          withQ.selectExpr(s"stack(${cols.length}, $stackArgs) " +
            "AS (column_name, n_nulls, n_distinct, min_v, max_v, avg_v, p50, p95)")
        }
        // (i) exact multi-distinct aggs alone, no stack
        timeNoop("exact_distinct_nostack") {
          val aggs = cols.flatMap { c => Seq(
            sum(col(c).isNull.cast("long")), countDistinct(col(c)),
            min(col(c).cast("double")), max(col(c).cast("double")),
            round(avg(col(c).cast("double")), 6)) }
          li.agg(aggs.head, aggs.tail: _*)
        }

      case "hll" =>
        val li = graft.Tables.lineitem(spark, sfDir)
        val cols = Seq("l_linenumber", "l_orderkey", "l_partkey", "l_quantity", "l_suppkey")
        graft.functions.ThetaSketch.register(spark)
        timeNoop("hll_rsd002_only") {
          val aggs = cols.map(c => approx_count_distinct(col(c), 0.02))
          li.agg(aggs.head, aggs.tail: _*)
        }
        timeNoop("hll_rsd005_only") {
          val aggs = cols.map(c => approx_count_distinct(col(c), 0.05))
          li.agg(aggs.head, aggs.tail: _*)
        }
        timeNoop("theta_only") {
          val aggs = cols.map(c => expr(s"theta_sketch_agg($c)"))
          li.agg(aggs.head, aggs.tail: _*)
        }
        timeNoop("hll_rsd002_single_col") {
          li.agg(approx_count_distinct(col("l_orderkey"), 0.02))
        }

      case "embed" =>
        val e = graft.Tables.embeddings(spark, sfDir)
        val nVec = e.count()
        val table = graft.api.EmbedBlocking.scaledTable(nVec)
        // (a) shipped band keys (one giant projection under Generate)
        time("bandkeys_shipped") {
          graft.api.EmbedBlocking.bandKeys(e, "vec_id", "embedding", table)
        }
        // (b) packed-signs variant: one 64-term sign sum, then per-band
        // shift/mask keys as separate projected columns
        time("bandkeys_packed") {
          val signs = (0 until graft.api.EmbedBlocking.DIM).map(d =>
            when(element_at(col("embedding"), d + 1) >= lit(0f),
              lit(1L << d)).otherwise(lit(0L))).reduce(_ + _)
          val withSigns = e.select(col("vec_id"), signs.as("_signs"))
          val keyCols = table.zipWithIndex.map { case (dims, j) =>
            dims.zipWithIndex.map { case (d, t) =>
              (shiftright(col("_signs"), d).bitwiseAND(lit(1L)) * lit(1L << t))
            }.reduce(_ + _).cast("int").as(s"_k$j")
          }
          val keyed = withSigns.select(col("vec_id") +: keyCols.toSeq: _*)
          val bandStructs = table.indices.map(j =>
            struct(lit(j).as("band"), col(s"_k$j").as("key")))
          keyed.select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
            .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
        }
        // (c) full shipped query
        time("embed_bucketed_shipped") {
          graft.queries.PipelineExtras.queries("q_dedup_embed_bucketed")(spark, sfDir)
        }
        // (d) candidate pairs only (checkpoint + self-join + distinct)
        time("candidate_pairs_shipped") {
          graft.api.EmbedBlocking.candidatePairs(e, "vec_id", "embedding", table)
        }
        // (e) candidate pairs without the localCheckpoint (tiny corpus)
        time("candidate_pairs_nockpt") {
          val k = graft.api.EmbedBlocking.bandKeys(e, "vec_id", "embedding", table)
          val a = k.select(col("vec_id").as("ia"), col("band"), col("key"))
          val b = k.select(col("vec_id").as("ib"), col("band"), col("key"))
          a.join(b, Seq("band", "key")).filter(col("ia") < col("ib"))
            .select(col("ia"), col("ib")).distinct()
        }
        // (f) packed keys + cache instead of localCheckpoint
        time("candidate_pairs_packed_cache") {
          val signs = (0 until graft.api.EmbedBlocking.DIM).map(d =>
            when(element_at(col("embedding"), d + 1) >= lit(0f),
              lit(1L << d)).otherwise(lit(0L))).reduce(_ + _)
          val withSigns = e.select(col("vec_id"), signs.as("_signs"))
          val keyCols = table.zipWithIndex.map { case (dims, j) =>
            dims.zipWithIndex.map { case (d, t) =>
              (shiftright(col("_signs"), d).bitwiseAND(lit(1L)) * lit(1L << t))
            }.reduce(_ + _).cast("int").as(s"_k$j")
          }
          val keyed = withSigns.select(col("vec_id") +: keyCols.toSeq: _*)
          val bandStructs = table.indices.map(j =>
            struct(lit(j).as("band"), col(s"_k$j").as("key")))
          val k = keyed.select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
            .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
            .localCheckpoint(false)
          val a = k.select(col("vec_id").as("ia"), col("band"), col("key"))
          val b = k.select(col("vec_id").as("ib"), col("band"), col("key"))
          a.join(b, Seq("band", "key")).filter(col("ia") < col("ib"))
            .select(col("ia"), col("ib")).distinct()
        }

      case "ngram" =>
        val docs = graft.Tables.documents(spark, sfDir)
        time("jaccard_shipped") {
          graft.queries.PipelineExtras.queries("q_dedup_ngram_jaccard")(spark, sfDir)
        }
        time("containment_shipped") {
          graft.queries.PipelineExtras.queries("q_dedup_containment")(spark, sfDir)
        }
        time("collapse_exact_memb") {
          val d0 = docs.filter(size(split(col("text"), " ")) >= 3)
            .select(col("doc_id"), col("text"))
          d0.select(col("doc_id"), md5(col("text")).as("_tk"))
            .withColumn("uid", min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("_tk"))))
            .select(col("doc_id"), col("uid"))
        }
        timeNoop("shingles_only") {
          docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
            .filter(size(col("ws")) >= 3)
            .select(col("doc_id"), explode(array_distinct(expr(
              "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
              .as("sh"))
        }
        timeNoop("shingles_df_window") {
          val sh = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
            .filter(size(col("ws")) >= 3)
            .select(col("doc_id"), explode(array_distinct(expr(
              "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
              .as("sh"))
          sh.withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
        }

      case "dupspans" =>
        // r19: q_dedup_substring decomposition — where does the row's
        // time go, and does the marked-positions stage beat its
        // collect_list + interpreted-HOF-filter + re-explode shape
        // when expressed as window min/max (codegen aggregates, one
        // shuffle, no ObjectHashAggregate)?
        val k = graft.queries.Linkage.SUB_K
        def sh0 = {
          val ws = graft.Tables.documents(spark, sfDir)
            .select(col("doc_id"), split(col("text"), " ").as("ws"))
            .filter(size(col("ws")) >= k)
          ws.select(col("doc_id"), explode(expr(
              s"""transform(sequence(1, size(ws) - ${k - 1}),
                 |  i -> struct(i AS pos,
                 |    struct(xxhash64(slice(ws, i, $k)) AS h1,
                 |           xxhash64('graft-h2', slice(ws, i, $k)) AS h2) AS h))""".stripMargin)).as("e"))
            .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))
        }
        timeNoop("explode_hash_only")(sh0)
        timeNoop("marked_collect_shipped") {
          sh0.groupBy("h")
            .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occs"))
            .filter(expr("size(array_distinct(transform(occs, o -> o.doc_id))) >= 2"))
            .select(explode(col("occs")).as("o"))
            .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
        }
        timeNoop("marked_window_minmax") {
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
          sh0.withColumn("d1", min(col("doc_id")).over(w))
            .withColumn("d2", max(col("doc_id")).over(w))
            .filter(col("d1") =!= col("d2"))
            .select(col("doc_id"), col("pos"))
        }
        time("dupspans_shipped") {
          graft.SparkEntry.queries("q_dedup_substring")(spark, sfDir)
        }

      case "dupclean" =>
        // r19: is q_text_dedup_clean's regression the window-marked
        // dupSpans or noise? Interleave shipped vs an inline
        // collect_list reconstruction of the old marked stage.
        val k = graft.queries.Linkage.SUB_K
        def oldSpans = {
          val ws = graft.Tables.documents(spark, sfDir)
            .select(col("doc_id"), split(col("text"), " ").as("ws"))
            .filter(size(col("ws")) >= k)
          val sh = ws.select(col("doc_id"), explode(expr(
              s"""transform(sequence(1, size(ws) - ${k - 1}),
                 |  i -> struct(i AS pos,
                 |    struct(xxhash64(slice(ws, i, $k)) AS h1,
                 |           xxhash64('graft-h2', slice(ws, i, $k)) AS h2) AS h))""".stripMargin)).as("e"))
            .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))
          val marked = sh.groupBy("h")
            .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occs"))
            .filter(expr("size(array_distinct(transform(occs, o -> o.doc_id))) >= 2"))
            .select(explode(col("occs")).as("o"))
            .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy("pos")
          marked
            .withColumn("prev", lag("pos", 1).over(w))
            .withColumn("brk",
              when(col("prev").isNull || col("pos") > col("prev") + k, 1).otherwise(0))
            .withColumn("island", sum("brk").over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
            .groupBy("doc_id", "island")
            .agg(min("pos").cast("int").as("span_start"),
              (max("pos") + (k - 1)).cast("int").as("span_end"),
              count(lit(1)).as("n_shingles"))
            .select("doc_id", "span_start", "span_end", "n_shingles")
        }
        def cleanOld = {
          val docs = graft.Tables.documents(spark, sfDir)
          val spans = oldSpans.groupBy("doc_id")
            .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
              .as("spans"))
          docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
            .join(spans, Seq("doc_id"), "left")
            .select(col("doc_id"), col("ws"),
              expr("""filter(sequence(1, size(ws)),
                     |  i -> spans IS NULL OR NOT exists(spans, s -> i >= s.s AND i <= s.e))
                     |""".stripMargin).as("keep"))
            .select(col("doc_id"),
              size(col("ws")).as("n_words"),
              (size(col("ws")) - size(col("keep"))).as("n_removed"),
              expr("array_join(transform(keep, i -> element_at(ws, i)), ' ')").as("clean_text"))
            .orderBy("doc_id")
        }
        for (_ <- 1 to reps) {
          Seq("clean_shipped" -> (() => graft.SparkEntry.queries("q_text_dedup_clean")(spark, sfDir)),
              "clean_old" -> (() => cleanOld),
              "spans_shipped" -> (() => graft.SparkEntry.queries("q_dedup_substring")(spark, sfDir)),
              "spans_old" -> (() => oldSpans.orderBy("doc_id", "span_start"))).foreach {
            case (n, mk) =>
              val t0 = System.nanoTime()
              val c = mk().count()
              println(f"[ab] $n%-14s ${(System.nanoTime() - t0) / 1e9}%6.3f rows=$c")
              spark.catalog.clearCache()
          }
        }

      case "neardup" =>
        // r19: batch-dual comparison — shipped (explode+groupBy
        // codegen twin) vs the pre-r19 HOF/string-key shape inlined
        time("neardup_shipped") {
          graft.SparkEntry.queries("q_stream_neardup")(spark, sfDir)
        }
        time("neardup_hof_old") {
          val b = {
            val sigs = graft.api.NearDupStream.signatures(
              graft.Tables.documents(spark, sfDir), "doc_id", "text")
            val keys = (0 until graft.queries.MinHashDf.NUM_BANDS).map(bi =>
              s"concat('$bi', ':', sigs[${2 * bi}], ':', sigs[${2 * bi + 1}])")
            sigs.select(col("id"), col("sigs"),
              explode(expr(keys.mkString("array(", ", ", ")"))).as("key"))
          }
          b.as("x").join(b.as("y"),
              col("x.key") === col("y.key") && col("x.id") > col("y.id"))
            .select(col("x.id").as("doc_id"), col("y.id").as("matched_id"),
              round(expr(
                s"size(filter(zip_with(x.sigs, y.sigs, (a, b) -> a = b), v -> v)) " +
                  s"/ CAST(${graft.api.NearDupStream.NUM_HASHES} AS DOUBLE)"), 6).as("est_sim"))
            .filter(col("est_sim") >= 0.5)
            .distinct()
            .orderBy("doc_id", "matched_id")
        }

      case "stages" =>
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val stages = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        val taskTime = new java.util.concurrent.atomic.AtomicLong
        val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, String)]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
          override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            stages.incrementAndGet()
            tasks.addAndGet(sc.stageInfo.numTasks)
            if (sc.stageInfo.taskMetrics != null) {
              taskTime.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
              stageLog.add((sc.stageInfo.stageId, sc.stageInfo.numTasks,
                sc.stageInfo.taskMetrics.executorRunTime,
                sc.stageInfo.taskMetrics.jvmGCTime,
                sc.stageInfo.taskMetrics.executorDeserializeTime,
                sc.stageInfo.name.take(90)))
            }
          }
        })
        def measure(name: String)(mk: => DataFrame): Unit = {
          mk.count() // warm
          spark.catalog.clearCache()
          Thread.sleep(300)
          jobs.set(0); stages.set(0); tasks.set(0); taskTime.set(0); stageLog.clear()
          val t0 = System.nanoTime()
          val n = mk.count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          println(f"[stage] $name%-28s wall=$wall%6.2f jobs=${jobs.get}%3d " +
            f"stages=${stages.get}%3d tasks=${tasks.get}%5d taskTimeSum=${taskTime.get / 1e3}%7.2fs rows=$n")
          import scala.jdk.CollectionConverters._
          stageLog.asScala.toSeq.sortBy(-_._3).take(8).foreach { case (id, nt, rt, gc, de, nm) =>
            println(f"[stage]    top id=$id%5d tasks=$nt%4d runTime=${rt / 1e3}%7.2fs gc=${gc / 1e3}%6.2fs deser=${de / 1e3}%6.2fs  $nm")
          }
          spark.catalog.clearCache()
        }
        args.drop(2).foreach { q =>
          measure(q)(graft.SparkEntry.queries(q)(spark, sfDir))
        }

      case "pagerank" =>
        // r19 session 2: node-sized pre-divide (shipped) vs the old
        // edge-granularity deg join, interleaved
        def oldPagerank: DataFrame = {
          val li = graft.Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          val edges = li.as("a").join(li.as("b"),
              col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
            .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
          val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          val nodes = edges.select(col("src").as("node")).distinct()
          val cnt = nodes.agg(count(lit(1)).as("n"))
          var pr = nodes.crossJoin(broadcast(cnt))
            .select(col("node"), (lit(1.0) / col("n")).as("pr"))
          for (_ <- 1 to 5) {
            val contrib = edges.join(pr, col("src") === col("node"))
              .join(deg, "src")
              .groupBy(col("dst")).agg(sum(col("pr") / col("deg")).as("c"))
            pr = nodes.join(contrib, col("node") === col("dst"), "left")
              .crossJoin(broadcast(cnt))
              .select(col("node"),
                (lit(0.15) / col("n") + lit(0.85) * coalesce(col("c"), lit(0.0))).as("pr"))
          }
          pr.select(col("node").as("part_key"), round(col("pr"), 8).as("pagerank"))
            .orderBy("part_key")
        }
        val newRows = graft.SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
          .collect().map(_.toString).toSeq
        val oldRows = oldPagerank.collect().map(_.toString).toSeq
        println(s"[ab] pagerank identity: ${if (newRows == oldRows) "IDENTICAL" else "DIFFER"} " +
          s"(${newRows.size} rows)")
        spark.catalog.clearCache()
        for (r <- 1 to reps) {
          Seq("pagerank_shipped" -> (() => graft.SparkEntry.queries("q_graph_pagerank")(spark, sfDir)),
              "pagerank_old" -> (() => oldPagerank)).foreach { case (n, mk) =>
            val t0 = System.nanoTime()
            val c = mk().count()
            println(f"[ab] $n%-18s rep=$r ${(System.nanoTime() - t0) / 1e9}%6.3f rows=$c")
            spark.catalog.clearCache()
          }
        }

      case "splits" =>
        def run(tag: String): Unit = {
          time(s"jaccard_$tag") {
            graft.queries.PipelineExtras.queries("q_dedup_ngram_jaccard")(spark, sfDir) }
          time(s"minhash_$tag") {
            graft.queries.MinHashDf.qDedupMinhashDf(spark, sfDir) }
          time(s"profile_stats_$tag") {
            graft.queries.Analytics.queries("q_profile_stats")(spark, sfDir) }
        }
        run("oc128k")
        spark.conf.set("spark.sql.files.openCostInBytes", "32768")
        run("oc32k")
        spark.conf.set("spark.sql.files.openCostInBytes", "131072")

      case "mhstorage" =>
        time("minhash_disk_only") {
          spark.conf.set("spark.graft.minhash.postingsStorage", "DISK_ONLY")
          graft.queries.MinHashDf.qDedupMinhashDf(spark, sfDir)
        }
        time("minhash_mem_disk") {
          spark.conf.set("spark.graft.minhash.postingsStorage", "MEMORY_AND_DISK")
          graft.queries.MinHashDf.qDedupMinhashDf(spark, sfDir)
        }

      case "phases" =>
        // split construction / planning / execution wall per query
        args.drop(2).foreach { q =>
          (1 to 3).foreach { r =>
            val t0 = System.nanoTime()
            val df = graft.SparkEntry.queries(q)(spark, sfDir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan // force analysis+optimization+planning
            val t2 = System.nanoTime()
            val n = df.count()
            val t3 = System.nanoTime()
            spark.catalog.clearCache()
            println(f"[phase] $q%-28s rep=$r construct=${(t1 - t0) / 1e9}%5.2f " +
              f"plan=${(t2 - t1) / 1e9}%5.2f exec=${(t3 - t2) / 1e9}%5.2f rows=$n")
          }
        }

      case "readcost" =>
        // per-call cost of spark.read.parquet (listing + footer schema
        // inference) vs schema-supplied read vs reusing the DataFrame
        val n = 60
        val t0 = System.nanoTime()
        (1 to n).foreach { _ =>
          spark.read.parquet(s"$sfDir/lineitem.parquet").schema
        }
        val t1 = System.nanoTime()
        val schema = spark.read.parquet(s"$sfDir/lineitem.parquet").schema
        (1 to n).foreach { _ =>
          spark.read.schema(schema).parquet(s"$sfDir/lineitem.parquet").schema
        }
        val t2 = System.nanoTime()
        println(f"[read] infer=${(t1 - t0) / 1e6 / n}%.1f ms/call  supplied=${(t2 - t1) / 1e6 / n}%.1f ms/call")
        // trivial full query floor: scan+filter+count
        time("floor_count_lineitem") {
          spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count()
        }
        time("floor_count_supplied_schema") {
          spark.read.schema(schema).parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count()
        }

      case "ui" =>
        val q = args(3)
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        df.count(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, sfDir).count()
        println(f"[ui] warm run ${(System.nanoTime() - t0) / 1e9}%.2f s - UI on :4040, sleeping 600 s")
        Thread.sleep(600000)

      case "tinyjoin" =>
        import spark.implicits._
        val base = (1L to 500L).map(i => (i, i % 37)).toDF("id", "k")
        def joinAgg(df: DataFrame): DataFrame = {
          val a = df.select(col("id").as("ia"), col("k"))
          val b = df.select(col("id").as("ib"), col("k"))
          a.join(b, "k").groupBy("k").agg(count(lit(1)).as("n"))
        }
        time("tiny_local") { joinAgg(base) }
        time("tiny_ckpt32") {
          joinAgg(base.repartition(32).localCheckpoint(true)) }
        time("tiny_ckpt1") {
          joinAgg(base.repartition(1).localCheckpoint(true)) }
        time("tiny_cache32") {
          val c = base.repartition(32).cache(); c.count(); joinAgg(c) }

      case "cc" =>
        // DedupClusters loop cost on the fixture pairs
        time("clusters_shipped") {
          graft.queries.SearchDedup.queries("q_dedup_clusters")(spark, sfDir)
        }
        time("minhash_pairs_only") {
          graft.queries.MinHashDf.qDedupMinhashDf(spark, sfDir)
        }

      case other => sys.error(s"unknown experiment $other")
    }
    spark.stop()
  }
}
