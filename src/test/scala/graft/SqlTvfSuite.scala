package graft

import org.apache.spark.sql.functions._

/** SQL table-function surface (api/EventAnalytics): `SELECT * FROM
  * graft_funnel(...)` etc. must return exactly the oracled DataFrame
  * rows, through BOTH registration paths — session-build injection
  * (GraftExtensions, which SparkTestBase wires via
  * spark.sql.extensions) and Engine.init's runtime registration —
  * with literal-argument violations raising clear errors.
  */
class SqlTvfSuite extends GraftSuite {

  private def withEventsView[A](name: String)(f: => A): A = {
    Tables.events(spark, sf0001).createOrReplaceTempView(name)
    try f finally spark.catalog.dropTempView(name)
  }

  test("graft_funnel TVF == q_funnel (injected via GraftExtensions)") {
    withEventsView("ev_tvf") {
      val got = spark.sql(
        "SELECT * FROM graft_funnel('ev_tvf', 'user_id', 'event_type', 'ts', " +
          "array('view', 'click', 'purchase'), 86400000000)")
      assert(got.columns.toSeq ==
        Seq("n_view", "n_view_click", "n_view_click_purchase"))
      val want = queries.Analytics.qFunnel(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq == want, "TVF funnel row must equal the oracled q_funnel row")
    }
  }

  private val DayUs = 86400000000L

  /** In-memory funnel fold over collected events, independent of
    * funnelDf: per user, t1 = min step-1 time, then t_k = min step-k
    * time in (t_{k-1}, t_{k-1} + h]; returns the number of users
    * reaching each step. */
  private def funnelRef(evs: Seq[(Long, String, Long)], steps: Seq[String],
      h: Long): Seq[Long] = {
    val reached = evs.groupBy(_._1).values.toSeq.map { es =>
      def times(step: String) = es.collect { case (_, t, us) if t == step => us }
      steps.tail.scanLeft(times(steps.head).minOption) { (prev, step) =>
        prev.flatMap(p => times(step).filter(x => x > p && x <= p + h).minOption)
      }.map(t => if (t.isDefined) 1L else 0L)
    }
    steps.indices.map(k => reached.map(_(k)).sum)
  }

  private def funnelRow(events: org.apache.spark.sql.DataFrame, steps: Seq[String],
      h: Long = DayUs): Seq[Long] = {
    val rows = graft.api.EventAnalytics
      .funnelDf(events, "user_id", "event_type", "ts", steps, h).collect()
    assert(rows.length == 1, s"a funnel is one row, got ${rows.length}")
    rows.head.toSeq.map(_.asInstanceOf[Long])
  }

  test("funnelDf == an in-memory fold over the collected events, for 1-4 steps and a repeated step") {
    val events = Tables.events(spark, sf0001)
    val evs = events.select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    Seq(Seq("view"), Seq("view", "click"), Seq("view", "click", "purchase"),
        Seq("view", "click", "view", "purchase")).foreach { steps =>
      val want = funnelRef(evs, steps, DayUs)
      assert(funnelRow(events, steps) == want, s"steps $steps")
      assert(want.last > 0, s"fixture must reach the last of $steps")
    }
    val cols = graft.api.EventAnalytics.funnelDf(events, "user_id", "event_type",
      "ts", Seq("view", "click", "view"), DayUs).columns.toSeq
    assert(cols == Seq("n_view", "n_view_click", "n_view_click_view"))
  }

  test("funnelDf boundaries: equal time excluded, exactly +H included, no step-1 counts nowhere; empty input is one row of zeros") {
    val h = 1000L
    val evs = Seq(
      (1L, "a", 100L), (1L, "b", 100L),            // equal to t1: excluded
      (2L, "a", 100L), (2L, "b", 1100L),           // exactly t1 + H: included
      (2L, "c", 1100L), (2L, "c", 2101L),          //   equal t2 and t2 + H + 1: excluded
      (3L, "a", 100L), (3L, "b", 1101L),           // past t1 + H: excluded
      (4L, "b", 200L), (4L, "c", 300L),            // no step-1 event at all
      (5L, "a", 500L), (5L, "a", 100L),            // t1 is the MIN step-1 time
      (5L, "b", 1050L), (5L, "b", 300L),           //   and t2 the min qualifying one:
      (5L, "c", 400L), (5L, "c", 2500L))           //   only t2 = 300 admits c@400
    val sess = spark; import sess.implicits._
    val df = evs.toDF("user_id", "event_type", "us")
      .select(col("user_id"), col("event_type"), timestamp_micros(col("us")).as("ts"))
    val steps = Seq("a", "b", "c")
    assert(funnelRef(evs, steps, h) == Seq(4L, 2L, 1L))
    assert(funnelRow(df, steps, h) == Seq(4L, 2L, 1L))
    // a null user key is one step-1 group and stops there, as in the
    // join-based reference SQL
    val withNull = df.unionByName(Seq((Option.empty[Long], "a", 100L),
        (Option.empty[Long], "b", 200L)).toDF("user_id", "event_type", "us")
      .select(col("user_id"), col("event_type"), timestamp_micros(col("us")).as("ts")))
    assert(funnelRow(withNull, steps, h) == Seq(5L, 2L, 1L))
    assert(funnelRow(df.limit(0), steps, h) == Seq(0L, 0L, 0L),
      "an empty input must still give one row of zeros")
  }

  test("funnelDf scales exactly: 3 user-disjoint copies of the events give 3x every count") {
    val events = Tables.events(spark, sf0001)
    val shift = events.agg(max(col("user_id"))).head().getLong(0) + 1
    val tripled = (1 to 2).foldLeft(events) { (acc, i) =>
      acc.unionByName(events.withColumn("user_id", col("user_id") + shift * i))
    }
    Seq(Seq("view", "click", "purchase"), Seq("view", "click", "view", "purchase"))
      .foreach { steps =>
        val base = funnelRow(events, steps)
        assert(base.last > 0)
        assert(funnelRow(tripled, steps) == base.map(_ * 3), s"steps $steps")
      }
  }

  test("graft_cohort_retention TVF == q_cohort_retention; non-default offset changes the column name") {
    withEventsView("ev_tvf") {
      val got = spark.sql(
        "SELECT * FROM graft_cohort_retention('ev_tvf', 'user_id', " +
          "'event_type', 'ts', 'purchase', 7)").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
      val want = queries.Analytics.qCohortRetention(spark, sf0001).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, "TVF cohort rows must equal the oracled query")
      val d14 = spark.sql(
        "SELECT * FROM graft_cohort_retention('ev_tvf', 'user_id', " +
          "'event_type', 'ts', 'purchase', 14)")
      assert(d14.columns.contains("retained_d14"),
        "the retained column must carry the requested offset")
    }
  }

  test("graft_twap TVF == q_twap; composes with ordinary SQL around it") {
    withEventsView("ev_tvf") {
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getLong(3))
      val got = spark.sql(
        "SELECT * FROM graft_twap('ev_tvf', 'user_id', 'ts', 'value', 'event_id')")
        .collect().map(key).toSeq
      val want = queries.Analytics.qTwap(spark, sf0001).collect().map(key).toSeq
      assert(got == want, "TVF twap rows must equal the oracled query")
      // a TVF is a real FROM relation: filters/aggregates compose
      val n = spark.sql(
        "SELECT COUNT(*) FROM graft_twap('ev_tvf', 'user_id', 'ts', 'value', " +
          "'event_id') WHERE total_secs > 100").head().getLong(0)
      assert(n > 0 && n <= want.size)
    }
  }

  test("graft_cohort_matrix TVF == q_cohort_matrix") {
    withEventsView("ev_tvf") {
      def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val got = spark.sql(
        "SELECT * FROM graft_cohort_matrix('ev_tvf', 'user_id', 'event_type', " +
          "'ts', 'purchase', array(1, 7, 14))")
      assert(got.columns.toSeq ==
        Seq("cohort_date", "n_users", "retained_d1", "retained_d7", "retained_d14"))
      val want = queries.Analytics.qCohortMatrix(spark, sf0001).collect().map(key).toSeq
      assert(got.collect().map(key).toSeq == want,
        "TVF matrix rows must equal the oracled query")
    }
  }

  test("graft_gapfill TVF == q_gapfill") {
    withEventsView("ev_tvf") {
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getLong(3))
      val got = spark.sql(
        "SELECT * FROM graft_gapfill('ev_tvf', 'user_id', 'ts', 'value', 'event_id')")
        .collect().map(key).toSeq
      val want = queries.Analytics.qGapfill(spark, sf0001).collect().map(key).toSeq
      assert(got == want, "TVF gapfill rows must equal the oracled query")
    }
  }

  test("graft_sessionize TVF == q_sessionize_gap") {
    // the oracled row truncates ts to the second before sessionizing;
    // the TVF takes its ts column as-is, so hand it the truncated view
    Tables.events(spark, sf0001)
      .withColumn("ts_sec", date_trunc("second", col("ts")))
      .createOrReplaceTempView("ev_tvf_sess")
    try {
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toString, r.getTimestamp(3).toString, r.getLong(4))
      val got = spark.sql(
        "SELECT * FROM graft_sessionize('ev_tvf_sess', 'user_id', 'ts_sec', " +
          "'event_id', 1800000000)")
      assert(got.columns.toSeq == Seq(
        "user_id", "session_id", "session_start", "session_end", "n_events"))
      val want = queries.Relational3.qSessionizeGap(spark, sf0001)
        .collect().map(key).toSeq
      assert(got.collect().map(key).toSeq == want,
        "TVF sessionize rows must equal the oracled query")
      // a different gap changes the segmentation: a huge gap collapses
      // every user to one session
      val one = spark.sql(
        "SELECT * FROM graft_sessionize('ev_tvf_sess', 'user_id', 'ts_sec', " +
          "'event_id', 9223372036854775807)")
      assert(one.groupBy("user_id").count().filter(col("count") =!= 1).count() == 0,
        "MaxValue gap must yield exactly one session per user")
    } finally spark.catalog.dropTempView("ev_tvf_sess")
  }

  test("graft_ann_topk TVF == IvfIndex.query in either cell encoding; recall floor holds through SQL") {
    import graft.api.IvfIndex
    Tables.embeddings(spark, sf0001).filter(col("vec_id") < 50)
      .createOrReplaceTempView("ann_q_tvf")
    try {
      // the IvfIndexSuite recall floors at 4/16 cells, reached from SQL
      Seq(IvfIndex.Pq(m = 8, kSub = 16) -> 0.4, IvfIndex.Flat -> 0.5).foreach { case (enc, floor) =>
        val dir = java.nio.file.Files.createTempDirectory("ann_tvf_idx").toString
        IvfIndex.build(spark, Tables.embeddings(spark, sf0001), dir,
          kCells = 16, encoding = enc, seed = 42L)
        val got = spark.sql(
          s"SELECT * FROM graft_ann_topk('ann_q_tvf', '$dir', 5, 4)").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
        // one-implementation rule: SQL surface == the Scala probe path
        val want = IvfIndex.query(spark,
            Tables.embeddings(spark, sf0001).filter(col("vec_id") < 50)
              .select(col("vec_id").as("qid"), col("embedding")),
            dir, nProbe = 4, topK = 5).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
        assert(got == want, s"TVF probe rows must equal IvfIndex.query ($enc)")
        // mean recall@5 vs the exact cosine top-k oracle row
        val exact = queries.LlmPipeline.qSimCosineTopk(spark, sf0001).collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val ann = got.map(t => (t._1, t._3))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val recalls = exact.map { case (q, w) =>
          ann.get(q).map(g => g.intersect(w).size.toDouble / w.size).getOrElse(0.0) }
        val mean = recalls.sum / recalls.size
        assert(mean >= floor, f"SQL ANN ($enc) mean recall@5 $mean%.2f below the $floor%.2f floor")
      }
    } finally spark.catalog.dropTempView("ann_q_tvf")
  }

  test("graft_pii_scrub TVF == api/PiiScrub.scrub") {
    Tables.documents(spark, sf0001).createOrReplaceTempView("docs_tvf")
    try {
      val got = spark.sql(
        "SELECT doc_id, nemail, nid, text FROM graft_pii_scrub('docs_tvf', 'text')")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val want = graft.api.PiiScrub
        .scrub(Tables.documents(spark, sf0001), "text")
        .select("doc_id", "nemail", "nid", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(got == want, "TVF scrub rows must equal the api builder")
      // fixture corpus is PII-free: zero masks, text unchanged
      assert(got.forall(r => r._2 == 0L && r._3 == 0L))
    } finally spark.catalog.dropTempView("docs_tvf")
  }

  test("graft_profile TVF == api/Profiling.profile; approx mode within HLL bounds") {
    Tables.orders(spark, sf0001).createOrReplaceTempView("orders_tvf")
    try {
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      val got = spark.sql("SELECT * FROM graft_profile('orders_tvf')")
        .collect().map(key).toSeq
      val want = graft.api.Profiling.profile(Tables.orders(spark, sf0001))
        .collect().map(key).toSeq
      assert(got == want, "TVF profile rows must equal the api builder")
      // approx mode: null counts stay exact, HLL distincts within 5%
      val exactBy = want.map(t => t._1 -> (t._2, t._3)).toMap
      spark.sql("SELECT * FROM graft_profile('orders_tvf', false)")
        .collect().map(key).foreach { case (c, nn, nd) =>
          val (wantNn, wantNd) = exactBy(c)
          assert(nn == wantNn, s"$c: approx mode must keep exact null counts")
          assert(math.abs(nd - wantNd).toDouble <= math.max(1.0, 0.05 * wantNd),
            s"$c: HLL distinct $nd vs exact $wantNd exceeds 5%")
        }
    } finally spark.catalog.dropTempView("orders_tvf")
  }

  test("runtime registration path (Engine.init-style) registers the same functions") {
    // simulate a conf-only session: re-register over the injected ones
    // through the sessionState bridge — must be an idempotent overwrite
    graft.api.EventAnalytics.registerTableFunctions(spark)
    withEventsView("ev_tvf2") {
      val one = spark.sql(
        "SELECT * FROM graft_funnel('ev_tvf2', 'user_id', 'event_type', 'ts', " +
          "array('view', 'purchase'), 86400000000)")
      assert(one.columns.toSeq == Seq("n_view", "n_view_purchase"))
      assert(one.head().getLong(0) > 0)
    }
  }

  test("literal-argument violations raise clear per-argument errors") {
    withEventsView("ev_tvf3") {
      val wrongArity = intercept[Exception] {
        spark.sql("SELECT * FROM graft_twap('ev_tvf3', 'user_id', 'ts')").collect()
      }
      assert(wrongArity.getMessage.contains("graft_twap expects 5 arguments"),
        s"got: ${wrongArity.getMessage}")
      val nonLiteral = intercept[Exception] {
        spark.sql("SELECT * FROM graft_funnel('ev_tvf3', 'user_id', 'event_type', " +
          "'ts', array('view'), rand())").collect()
      }
      assert(nonLiteral.getMessage.contains("horizon_us") &&
        nonLiteral.getMessage.contains("integer literal"),
        s"got: ${nonLiteral.getMessage}")
      val badSteps = intercept[Exception] {
        spark.sql("SELECT * FROM graft_funnel('ev_tvf3', 'user_id', 'event_type', " +
          "'ts', 'view', 86400000000)").collect()
      }
      assert(badSteps.getMessage.contains("steps_array"),
        s"got: ${badSteps.getMessage}")
      // 4294967303 = 2^32 + 7: an Int narrowing would run it as day 7
      val wideScalar = intercept[Exception] {
        spark.sql("SELECT * FROM graft_cohort_retention('ev_tvf3', 'user_id', " +
          "'event_type', 'ts', 'purchase', 4294967303)").collect()
      }
      assert(wideScalar.getMessage.contains("day_offset") &&
        wideScalar.getMessage.contains("Int range"), s"got: ${wideScalar.getMessage}")
      val wideArray = intercept[Exception] {
        spark.sql("SELECT * FROM graft_cohort_matrix('ev_tvf3', 'user_id', " +
          "'event_type', 'ts', 'purchase', array(1, 4294967303))").collect()
      }
      assert(wideArray.getMessage.contains("day_offsets_array") &&
        wideArray.getMessage.contains("Int range"), s"got: ${wideArray.getMessage}")
    }
  }

  test("graft_dup_spans TVF == q_dedup_substring; wider shingles never widen coverage") {
    Tables.documents(spark, sf0001).createOrReplaceTempView("docs_tvf")
    val got = spark.sql("SELECT * FROM graft_dup_spans('docs_tvf', 'doc_id', 'text', 8)")
    assert(got.columns.toSeq == Seq("doc_id", "span_start", "span_end", "n_shingles"))
    val want = queries.Linkage.qDedupSubstring(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got.collect().map(_.toSeq).toSeq == want,
      "TVF spans must equal the oracled q_dedup_substring rows")
    // Every 8-subgram of a shared 16-gram is itself shared, so k=16
    // coverage is a subset of k=8 coverage (per-doc covered positions).
    def covered(rows: Array[org.apache.spark.sql.Row]): Long =
      rows.map(r => r.getInt(2) - r.getInt(1) + 1L).sum
    val wide = spark.sql("SELECT * FROM graft_dup_spans('docs_tvf', 'doc_id', 'text', 16)")
    assert(covered(wide.collect()) <= covered(got.collect()),
      "k=16 duplicated coverage must not exceed k=8 coverage")
  }

  test("graft_clean_corpus TVF == q_text_dedup_clean; spans ∘ clean compose (clean twice == clean once at same k)") {
    Tables.documents(spark, sf0001).createOrReplaceTempView("docs_tvf2")
    val got = spark.sql("SELECT * FROM graft_clean_corpus('docs_tvf2', 'doc_id', 'text', 8)")
    assert(got.columns.toSeq == Seq("doc_id", "n_words", "n_removed", "clean_text"))
    val want = queries.Linkage.qTextDedupClean(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(got.collect().map(_.toSeq).toSeq == want,
      "TVF must equal the oracled q_text_dedup_clean rows")
    // Composition check: a second clean pass runs on the cleaned
    // corpus (it may find NEW duplicated 8-grams formed by segments
    // joined across a removed span) — its input counts must line up
    // with pass-1's kept counts, and text only ever SHRINKS.
    // (split("") = [""], so a fully-excised doc re-enters as 1 word.)
    got.selectExpr("doc_id", "clean_text AS text").createOrReplaceTempView("docs_tvf2b")
    val again = spark.sql(
      "SELECT * FROM graft_clean_corpus('docs_tvf2b', 'doc_id', 'text', 8)")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(1) - r.getInt(2))).toMap
    val first = got.collect().map(r => r.getLong(0) -> (r.getInt(1) - r.getInt(2))).toMap
    first.foreach { case (d, kept) =>
      val (nWords2, kept2) = again(d)
      assert(nWords2 == math.max(kept, 1),
        s"doc $d: second-pass input ${nWords2} must equal pass-1 kept $kept")
      assert(kept2 <= nWords2, s"doc $d: pass 2 must only shrink")
    }
  }
}
