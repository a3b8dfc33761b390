package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Real Structured Streaming executions of the §2B streaming
  * semantics (SURVEY.md §5.4): MemoryStream input → memory sink,
  * asserting streaming results equal the declared batch semantics on
  * identical input, including out-of-order/watermark behavior that is
  * invisible in batch (#59) and incremental custom state (#60).
  */
class StreamingSuite extends GraftSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window: streaming == batch on identical input") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val data = Seq(
      (ts("2024-01-01 00:05:00"), "click", 1.0),
      (ts("2024-01-01 00:55:00"), "click", 2.0),
      (ts("2024-01-01 01:05:00"), "view", 3.0),
      (ts("2024-01-01 01:45:00"), "click", 4.0))
    val ms = MemoryStream[(Timestamp, String, Double)]
    ms.addData(data: _*)
    val streamed = ms.toDF().toDF("ts", "event_type", "value")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sv"))
      .select($"window.start".as("hour_start"), $"event_type", $"n", $"sv")
    val q = streamed.writeStream.format("memory").queryName("tumbling_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream did not finish in time")
    val got = sess.table("tumbling_t").orderBy("hour_start", "event_type").collect().toSeq
    val want = data.toDF("ts", "event_type", "value")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sv"))
      .select($"window.start".as("hour_start"), $"event_type", $"n", $"sv")
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got == want)
    assert(got.size == 3)
  }

  test("q_stream_tumbling (#46) on REAL fixture data: file-source stream == declared batch query") {
    Tables.setEventsReadConfs(spark)
    val watch = java.nio.file.Files.createTempDirectory("ev_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$watch/events.parquet"))
    val sch = spark.read.parquet(s"$sf0001/events.parquet").schema
    val rawStream = spark.readStream.schema(sch).parquet(watch)
    val streamed = rawStream
      .withColumn("ts", Tables.normalizeEventsTs(rawStream)) // same recipe as Tables.events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
          .cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
    val q = streamed.writeStream.format("memory").queryName("tumbling_real")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val got = spark.table("tumbling_real")
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = queries.Streaming.qStreamTumbling(spark, sf0001).collect().toSeq
    assert(got == want, s"streaming run must equal the declared batch query " +
      s"(got ${got.length} rows, want ${want.length})")
  }

  test("q_stream_stream_join (#88): two watermarked file streams == declared batch join") {
    Tables.setEventsReadConfs(spark)
    val watch = java.nio.file.Files.createTempDirectory("ev_ssj").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$watch/events.parquet"))
    val sch = spark.read.parquet(s"$sf0001/events.parquet").schema
    def evStream = {
      val r = spark.readStream.schema(sch).parquet(watch)
      r.withColumn("ts", Tables.normalizeEventsTs(r))
    }
    val clicks = evStream.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = evStream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
        expr("user_id = p_user_id AND purchase_ts >= click_ts AND " +
          "purchase_ts <= click_ts + interval 24 hours"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_real")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val got = spark.table("ssjoin_real")
      .orderBy("user_id", "click_id", "purchase_id").collect().toSeq
    val want = queries.Streaming.qStreamStreamJoin(spark, sf0001).collect().toSeq
    assert(got.nonEmpty, "fixture must produce attribution pairs")
    assert(got == want, s"stream-stream join must equal the declared batch join " +
      s"(got ${got.length} rows, want ${want.length})")
  }

  test("stream-stream join: buffers across micro-batches; watermark evicts old state") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val msC = MemoryStream[(Long, Long, Timestamp)]
    val msP = MemoryStream[(Long, Long, Timestamp)]
    val clicks = msC.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val purchases = msP.toDF().toDF("p_user_id", "purchase_id", "purchase_ts")
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("user_id = p_user_id AND purchase_ts >= click_ts AND " +
        "purchase_ts <= click_ts + interval 24 hours"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_state")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // click arrives alone: no output yet, row buffered in join state
      msC.addData((1L, 10L, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      assert(sess.table("ssjoin_state").count() == 0)
      // matching purchase lands in a LATER batch -> joins the buffered click
      msP.addData((1L, 20L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      assert(sess.table("ssjoin_state").select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 20L)))
      // advance BOTH watermarks past click_ts + 24h: the click's state
      // is eligible for eviction (non-matching keys keep the streams moving)
      msC.addData((999L, 11L, ts("2024-01-04 00:00:00")))
      msP.addData((998L, 21L, ts("2024-01-04 00:00:00")))
      q.processAllAvailable()
      msC.addData((999L, 12L, ts("2024-01-04 06:00:00")))
      msP.addData((998L, 22L, ts("2024-01-04 06:00:00")))
      q.processAllAvailable()
      // a purchase inside the old click's 24h range but far behind the
      // watermark is late data: dropped, not joined against evicted state
      msP.addData((1L, 23L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      val rows = sess.table("ssjoin_state").select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((10L, 20L)),
        s"late purchase must not revive evicted click state, got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT join (#92): matches emit eagerly, null-padded rows only after the watermark") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val msC = MemoryStream[(Long, Long, Timestamp)]
    val msP = MemoryStream[(Long, Long, Timestamp)]
    val clicks = msC.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val purchases = msP.toDF().toDF("p_user_id", "purchase_id", "purchase_ts")
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("user_id = p_user_id AND purchase_ts >= click_ts AND " +
        "purchase_ts <= click_ts + interval 24 hours"), "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ssjoin_left")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def rows() = sess.table("ssjoin_left")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // one click that converts, one that never will
      msC.addData((1L, 10L, ts("2024-01-01 00:00:00")),
        (2L, 11L, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      msP.addData((1L, 20L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      // the match emits eagerly; the unconverted click must NOT have
      // emitted a null row yet — its 24h window is still open
      assert(rows() == Set((10L, 20L)),
        s"only the converted click may emit before the watermark: ${rows()}")
      // advance both watermarks past click_ts + 24h + delay, then one
      // more batch (outer results emit on the NEXT state cleanup)
      msC.addData((999L, 12L, ts("2024-01-03 12:00:00")))
      msP.addData((998L, 21L, ts("2024-01-03 12:00:00")))
      q.processAllAvailable()
      msC.addData((999L, 13L, ts("2024-01-03 18:00:00")))
      msP.addData((998L, 22L, ts("2024-01-03 18:00:00")))
      q.processAllAvailable()
      assert(rows().contains((11L, -1L)),
        s"the unconverted click must emit null-padded once the watermark closes its window: ${rows()}")
      assert(!rows().exists(r => r._1 == 10L && r._2 == -1L),
        "a matched click must not ALSO emit a null-padded row")
    } finally q.stop()
  }

  test("session window: gap == 30min still merges; only a strictly greater gap splits") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // u1: 00:00, 00:29:59 (merge), 00:59:59 exactly 30:00 later (still
    // merges — boundary is inclusive), 01:40:00 (> 30min → NEW session)
    val data = Seq(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-01-01 00:29:59"), 1L),
      (ts("2024-01-01 00:59:59"), 1L),
      (ts("2024-01-01 01:40:00"), 1L))
    val ms = MemoryStream[(Timestamp, Long)]
    ms.addData(data: _*)
    val streamed = ms.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("start"), $"n")
    val q = streamed.writeStream.format("memory").queryName("session_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream did not finish in time")
    val got = sess.table("session_t").orderBy("start").collect()
      .map(r => (r.getTimestamp(1), r.getLong(2))).toSeq
    assert(got == Seq((ts("2024-01-01 00:00:00"), 3L), (ts("2024-01-01 01:40:00"), 1L)),
      s"expected inclusive boundary merge + strict-gap split, got $got")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark removes re-delivered events") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val streamed = ms.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = streamed.writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    ms.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:01:00")))
    q.processAllAvailable()
    ms.addData((1L, ts("2024-01-01 00:02:00")), (3L, ts("2024-01-01 00:03:00"))) // 1 re-delivered
    q.processAllAvailable()
    q.stop()
    val got = sess.table("dedup_t").select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"duplicate event_id must be dropped, got $got")
  }

  test("watermark (#59): late rows beyond the watermark are dropped from window aggs") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val streamed = ms.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("win_start"), $"cnt")
    val q = streamed.writeStream.format("memory").queryName("late_t")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: rows at 00:00 and 00:30 → watermark advances to 00:20
    ms.addData((ts("2024-01-01 00:00:00"), "a"), (ts("2024-01-01 00:30:00"), "a"))
    q.processAllAvailable()
    // batch 2: a LATE row for the [00:00,00:10) window — behind the watermark → dropped
    ms.addData((ts("2024-01-01 00:05:00"), "late"))
    q.processAllAvailable()
    // batch 3: advance watermark far enough to emit all windows
    ms.addData((ts("2024-01-01 02:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val got = sess.table("late_t").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    assert(got(ts("2024-01-01 00:00:00")) == 1L,
      s"late row must NOT be counted (watermark drop), got $got")
    assert(got(ts("2024-01-01 00:30:00")) == 1L)
  }

  test("custom state (#60): flatMapGroupsWithState counts incrementally across batches; EventTimeTimeout fires") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val counted = ms.toDF().toDF("ts", "uid")
      .withWatermark("ts", "0 seconds")
      .as[(Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[(Timestamp, Long)], state: GroupState[Long]) => {
          if (state.hasTimedOut) {
            val n = state.get
            state.remove()
            Iterator.single((uid, -n)) // negative marker = state evicted at timeout
          } else {
            val batch = rows.toSeq
            val n = state.getOption.getOrElse(0L) + batch.size
            state.update(n)
            // timeout 10 min after this group's newest event — fires
            // once the watermark (other keys' events) passes it
            state.setTimeoutTimestamp(batch.map(_._1.getTime).max + 600000L)
            Iterator.single((uid, n))
          }
        })
      .toDF("uid", "n")
    val q = counted.writeStream.format("memory").queryName("state_t")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    ms.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:10"), 1L))
    q.processAllAvailable()
    ms.addData((ts("2024-01-01 00:01:00"), 1L)) // incremental: count 2 → 3
    q.processAllAvailable()
    ms.addData((ts("2024-01-01 01:00:00"), 2L)) // watermark jumps 1h → u1 times out
    q.processAllAvailable()
    q.stop()
    val rows = sess.table("state_t").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.contains((1L, 2L)), s"batch-1 count, got $rows")
    assert(rows.contains((1L, 3L)), s"incremental batch-2 count (state carried), got $rows")
    assert(rows.contains((1L, -3L)), s"EventTimeTimeout must evict u1's state, got $rows")
  }

  test("CDC latest-by-key (#50): streaming latest-state == batch fold of the changelog") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val ms = MemoryStream[(Long, Long, String)] // (seq, key, value)
    val latest = ms.toDF().toDF("seq", "key", "value")
      .as[(Long, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[(Long, Long, String)], state: GroupState[(Long, String)]) => {
          val best = (rows.map(r => (r._1, r._3)) ++ state.getOption.iterator)
            .maxBy(_._1)
          state.update(best)
          Iterator.single((key, best._1, best._2))
        })
      .toDF("key", "seq", "value")
    val q = latest.writeStream.format("memory").queryName("cdc_t")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    ms.addData((1L, 10L, "a"), (2L, 10L, "b"), (3L, 20L, "x"))
    q.processAllAvailable()
    ms.addData((4L, 10L, "c"), (5L, 30L, "y"))
    q.processAllAvailable()
    q.stop()
    // latest emitted state per key:
    val got = sess.table("cdc_t").collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    assert(got == Map(10L -> ((4L, "c")), 20L -> ((3L, "x")), 30L -> ((5L, "y"))),
      s"streaming latest-state must equal changelog fold, got $got")
  }

  test("stream-stream interval join (combine_latest's streaming form): == batch interval join") {
    // two live streams, watermarked, joined per key with a time-range
    // condition (right row within 10 min BEFORE the left row) — the
    // §2A combine_latest / as-of mapping for unbounded inputs
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val lData = Seq((1L, ts("2024-01-01 00:10:00"), "L1"),
      (1L, ts("2024-01-01 00:30:00"), "L2"),
      (2L, ts("2024-01-01 00:20:00"), "L3"))
    val rData = Seq((1L, ts("2024-01-01 00:05:00"), 10.0),
      (1L, ts("2024-01-01 00:25:00"), 20.0),
      (2L, ts("2024-01-01 00:01:00"), 30.0), // 19 min before L3: outside
      (3L, ts("2024-01-01 00:10:00"), 40.0))
    val lms = MemoryStream[(Long, Timestamp, String)]
    val rms = MemoryStream[(Long, Timestamp, Double)]
    val l = lms.toDF().toDF("lk", "lt", "tag").withWatermark("lt", "1 hour")
    val r = rms.toDF().toDF("rk", "rt", "v").withWatermark("rt", "1 hour")
    val joined = l.join(r,
      expr("lk = rk AND rt BETWEEN lt - INTERVAL 10 MINUTES AND lt"))
    val q = joined.select($"lk", $"tag", $"v")
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    // interleaved arrival across micro-batches
    lms.addData(lData.take(2): _*); rms.addData(rData.take(2): _*)
    q.processAllAvailable()
    lms.addData(lData.drop(2): _*); rms.addData(rData.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = sess.table("ssj_t").collect()
      .map(r0 => (r0.getLong(0), r0.getString(1), r0.getDouble(2))).toSet
    val want = lData.toDF("lk", "lt", "tag")
      .join(rData.toDF("rk", "rt", "v"),
        expr("lk = rk AND rt BETWEEN lt - INTERVAL 10 MINUTES AND lt"))
      .select($"lk", $"tag", $"v").collect()
      .map(r0 => (r0.getLong(0), r0.getString(1), r0.getDouble(2))).toSet
    assert(got == want, s"stream-stream join must equal batch interval join:\n$got\n$want")
    assert(got == Set((1L, "L1", 10.0), (1L, "L2", 20.0)),
      "L3's candidate is outside the interval; key 3 matches nothing")
  }

  test("topKStream: streaming MG top-k == batch q_text_topk_words, across a mid-stream restart") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      // identical input to the batch query: (lang, word) pairs from the
      // documents fixture, split in two chunks on doc_id for the restart
      val words = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("word"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val (chunk1, chunk2) = words.partition(_._1 % 2 == 0)
      val cp = java.nio.file.Files.createTempDirectory("topk_cp").toString
      // Update-mode emissions re-emit a touched group's FULL top-k, so
      // last-emission-per-group is the stream's current answer
      val latest = scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, String, Long)]]
      val ms = MemoryStream[(String, String)]
      def start() = graft.api.StreamzStateOps
        .topKStream(ms.toDF().toDF("lang", "word"), k = 5,
          capacity = graft.queries.PipelineExtras.TOPK_WORDS_CAPACITY,
          groupCol = "lang", itemCol = "word")
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().groupBy(_.getString(0)).foreach { case (g, rows) =>
            latest(g) = rows.toSeq.map(r => (r.getInt(1), r.getString(2), r.getLong(3))).sorted
          }
          ()
        }.start()
      val q1 = start()
      ms.addData(chunk1.map(w => (w._2, w._3)).toSeq: _*)
      q1.processAllAvailable()
      q1.stop() // mid-stream kill: the sketch survives only via the state store
      val q2 = start()
      ms.addData(chunk2.map(w => (w._2, w._3)).toSeq: _*)
      q2.processAllAvailable()
      q2.stop()
      val got = latest.toSeq.flatMap { case (g, rows) =>
        rows.map { case (rank, w, c) => (g, rank, w, c) } }.toSet
      val want = graft.queries.PipelineExtras.qTextTopkWords(spark, sf0001)
        .collect().map(r =>
          (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      assert(got == want,
        s"stream top-k after restart must equal batch; diff=${(got diff want).take(5)} / ${(want diff got).take(5)}")

      // bounded state: capacity 8 < vocabulary — emissions stay ≤ 8 rows
      // per group and never overcount the true frequency
      val truth = words.groupBy(w => (w._2, w._3)).map { case (k, v) => k -> v.length.toLong }
      val latest8 = scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, String, Long)]]
      val ms8 = MemoryStream[(String, String)]
      val q8 = graft.api.StreamzStateOps
        .topKStream(ms8.toDF().toDF("lang", "word"), k = 8, capacity = 8,
          groupCol = "lang", itemCol = "word")
        .writeStream.outputMode("update").trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().groupBy(_.getString(0)).foreach { case (g, rows) =>
            latest8(g) = rows.toSeq.map(r => (r.getInt(1), r.getString(2), r.getLong(3))).sorted
          }
          ()
        }.start()
      ms8.addData(words.map(w => (w._2, w._3)).toSeq: _*)
      q8.processAllAvailable()
      q8.stop()
      latest8.foreach { case (g, rows) =>
        assert(rows.size <= 8, s"group $g emitted ${rows.size} > capacity rows")
        rows.foreach { case (_, w, c) =>
          assert(c <= truth((g, w)), s"MG must never overcount: $g/$w est=$c true=${truth((g, w))}")
        }
      }
    }
  }

  test("topKStream: a full sketch's evicted counters leave the state store") {
    // capacity 4 > k 2: a wave of 4 distinct items fills each group's
    // sketch; a wave of 5 new ones decrements every old counter to 0
    // and refills the sketch, so each group's stored counters must
    // drop back to ≤ capacity — take(k) alone would hide stale ones
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val groups = Seq("g1", "g2", "g3")
      val ms = MemoryStream[(String, String)]
      val q = graft.api.StreamzStateOps
        .topKStream(ms.toDF().toDF("grp", "item"), k = 2, capacity = 4,
          groupCol = "grp", itemCol = "item")
        .writeStream.format("memory").queryName("topk_evict")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        def stateRows() = q.recentProgress.filter(_.numInputRows > 0).last
          .stateOperators.head.numRowsTotal
        ms.addData(for (g <- groups; w <- Seq("a", "b", "c", "d")) yield (g, w))
        q.processAllAvailable()
        assert(stateRows() == 4L * groups.size, "first wave fills every sketch")
        ms.addData(for (g <- groups; w <- Seq("e", "f", "g", "h", "i")) yield (g, w))
        q.processAllAvailable()
        assert(stateRows() <= 4L * groups.size,
          s"evicted counters must be removed: ${stateRows()} state rows for " +
            s"${groups.size} groups at capacity 4")
      } finally q.stop()
    }
  }

  test("topKStreamExpiring: idle group's sketch is evicted at the event-time TTL, active groups keep counting") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val ms = MemoryStream[(Timestamp, String, String)]
      val out = graft.api.StreamzStateOps.topKStreamExpiring(
        ms.toDF().toDF("ts", "grp", "item").withWatermark("ts", "0 seconds"),
        k = 3, capacity = 8, groupCol = "grp", itemCol = "item",
        tsCol = "ts", ttlMs = 60000L) // 1 minute TTL
      val q = out.writeStream.format("memory").queryName("topk_ttl")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      def emitted() = spark.table("topk_ttl").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      try {
        ms.addData((ts("2024-01-01 00:00:00"), "A", "x"),
          (ts("2024-01-01 00:00:01"), "A", "x"),
          (ts("2024-01-01 00:00:02"), "A", "y"))
        q.processAllAvailable()
        assert(emitted().count(_._1 == "A") == 2) // x@2, y@1
        // push the watermark past A's TTL with another group's events
        ms.addData((ts("2024-01-01 00:05:00"), "B", "z"))
        q.processAllAvailable()
        ms.addData((ts("2024-01-01 00:05:01"), "B", "z")) // timeout fires this batch
        q.processAllAvailable()
        // A returns AFTER eviction: its sketch restarts cold — x counts
        // from 1 again, not 3 (the observable proof state was removed)
        ms.addData((ts("2024-01-01 00:05:30"), "A", "x"))
        q.processAllAvailable()
        val aRows = emitted().filter(t => t._1 == "A" && t._3 == "x").map(_._4)
        assert(aRows.contains(2L) && aRows.contains(1L) && !aRows.contains(3L),
          s"post-eviction count must restart at 1 (saw x-counts ${aRows.toSeq.sorted})")
        // B unaffected throughout
        assert(emitted().filter(_._1 == "B").map(_._4).max == 2L)
      } finally q.stop()
    }
  }

  test("topKStreamExpiring: an out-of-order event must NOT pull the eviction deadline backwards") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val ms = MemoryStream[(Timestamp, String, String)]
      val out = graft.api.StreamzStateOps.topKStreamExpiring(
        ms.toDF().toDF("ts", "grp", "item").withWatermark("ts", "2 minutes"),
        k = 3, capacity = 8, groupCol = "grp", itemCol = "item",
        tsCol = "ts", ttlMs = 60000L)
      val q = out.writeStream.format("memory").queryName("topk_ttl_ooo")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // A's newest event 10:00:00 -> deadline 10:01:00
        ms.addData((ts("2024-01-01 10:00:00"), "A", "x"))
        q.processAllAvailable()
        // admissible OUT-OF-ORDER A event (09:59:30 > watermark 09:58:00).
        // A deadline derived from THIS event alone would be 10:00:30 —
        // 30 s early; the state's all-time max ts must keep 10:01:00.
        ms.addData((ts("2024-01-01 09:59:30"), "A", "x"))
        q.processAllAvailable()
        // advance the watermark to 10:00:31/10:00:32: past the WRONG
        // deadline, before the RIGHT one
        ms.addData((ts("2024-01-01 10:02:31"), "B", "z"))
        q.processAllAvailable()
        ms.addData((ts("2024-01-01 10:02:32"), "B", "z"))
        q.processAllAvailable()
        // A must still be alive: its x-count continues 2 -> 3
        ms.addData((ts("2024-01-01 10:02:00"), "A", "x"))
        q.processAllAvailable()
        val xCounts = spark.table("topk_ttl_ooo").collect()
          .filter(r => r.getString(0) == "A" && r.getString(2) == "x")
          .map(_.getLong(3))
        assert(xCounts.max == 3L,
          s"sketch evicted early on out-of-order input (x-counts ${xCounts.toSeq.sorted})")
      } finally q.stop()
    }
  }

  test("stream-stream joins (#88/#92) on the RocksDB state store: identical output, watermark-bounded state") {
    // SURVEY §4.3 names RocksDB the at-scale state backend (join state
    // ~ |window| × input rate per side — too big for the default
    // HDFS-backed heap store at 100 TB). Same queries, same answers,
    // and the state metric must shrink when the watermark evicts.
    withRocksDb {
      // (a) INNER #88: file-stream replay == declared batch join,
      // byte-identical to the default-provider test above
      Tables.setEventsReadConfs(spark)
      val watch = java.nio.file.Files.createTempDirectory("ev_ssj_rocks").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/events.parquet"),
        java.nio.file.Paths.get(s"$watch/events.parquet"))
      val sch = spark.read.parquet(s"$sf0001/events.parquet").schema
      def evStream = {
        val r = spark.readStream.schema(sch).parquet(watch)
        r.withColumn("ts", Tables.normalizeEventsTs(r))
      }
      val clicks = evStream.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = evStream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
          expr("user_id = p_user_id AND purchase_ts >= click_ts AND " +
            "purchase_ts <= click_ts + interval 24 hours"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
      val q = joined.writeStream.format("memory").queryName("ssjoin_rocks")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish in time")
      val got = spark.table("ssjoin_rocks")
        .orderBy("user_id", "click_id", "purchase_id").collect().toSeq
      val want = queries.Streaming.qStreamStreamJoin(spark, sf0001).collect().toSeq
      assert(got.nonEmpty && got == want,
        s"RocksDB-backed join must equal the declared batch join " +
        s"(got ${got.length} rows, want ${want.length})")

      // (b) LEFT #92 on RocksDB: matches eager, null-padded after the
      // watermark — and join state SHRINKS once eviction kicks in
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val msC = MemoryStream[(Long, Long, Timestamp)]
      val msP = MemoryStream[(Long, Long, Timestamp)]
      val lc = msC.toDF().toDF("user_id", "click_id", "click_ts")
        .withWatermark("click_ts", "1 hour")
      val lp = msP.toDF().toDF("p_user_id", "purchase_id", "purchase_ts")
        .withWatermark("purchase_ts", "1 hour")
      val lj = lc.join(lp,
        expr("user_id = p_user_id AND purchase_ts >= click_ts AND " +
          "purchase_ts <= click_ts + interval 24 hours"), "leftOuter")
      val ql = lj.writeStream.format("memory").queryName("ssjoin_left_rocks")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        def stateRows() = Option(ql.lastProgress)
          .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal)).getOrElse(-1L)
        msC.addData((1L, 10L, ts("2024-01-01 00:00:00")),
          (2L, 11L, ts("2024-01-01 00:00:00")))
        msP.addData((1L, 20L, ts("2024-01-01 01:00:00")))
        ql.processAllAvailable()
        val peak = stateRows()
        assert(peak >= 3L, s"join state must hold the buffered rows, got $peak")
        // advance both watermarks 3 days: the 2024-01-01 state evicts,
        // and click 11 emits null-padded on the way out
        msC.addData((999L, 12L, ts("2024-01-04 00:00:00")))
        msP.addData((998L, 22L, ts("2024-01-04 00:00:00")))
        ql.processAllAvailable()
        msC.addData((999L, 13L, ts("2024-01-04 06:00:00")))
        msP.addData((998L, 23L, ts("2024-01-04 06:00:00")))
        ql.processAllAvailable()
        val gotL = sess.table("ssjoin_left_rocks")
          .select("click_id", "purchase_id").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
        assert(Set((10L, 20L), (11L, -1L)).subsetOf(gotL),
          s"eager match + post-watermark null-pad must both appear, got $gotL")
        val after = stateRows()
        assert(after >= 0L && after < peak + 4L,
          s"state must stay watermark-bounded (peak $peak, now $after): " +
          "old-window rows evicted, only the fresh window retained")
      } finally ql.stop()
    }
  }

  // ---- transformWithState operators (Spark 4 arbitrary state) ----
  // Spark enforces RocksDB for transformWithState.

  test("q_stream_neardup (#124): band-bucket ListState matcher == declared batch dual, across batches") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // two id-ordered batches: later docs must match EARLIER-BATCH
      // docs from state, not just their own batch
      val (chunk1, chunk2) = docs.partition(_._1 < 250L)
      val ms = MemoryStream[(Long, String)]
      val q = graft.api.NearDupStream
        .nearDupStream(ms.toDF().toDF("doc_id", "text"), "doc_id", "text", minSim = 0.5)
        .writeStream.format("memory").queryName("neardup_stream")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      ms.addData(chunk1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(chunk2.toSeq: _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup_stream")
        .select("doc_id", "matched_id", "est_sim").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = queries.Streaming.qStreamNeardup(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.nonEmpty, "fixture must contain near-dups")
      assert(got == want,
        s"stream matches must equal the batch dual; missing=${(want diff got).take(5)} " +
          s"extra=${(got diff want).take(5)}")
      // and the cross-batch path genuinely fired: at least one pair
      // spans the two chunks
      assert(got.exists(p => p._1 >= 250L && p._2 < 250L),
        "expected at least one match across the batch boundary")
    }
  }

  test("q_stream_neardup (#124): TTL-bounded state — a long TTL still equals the batch dual") {
    // pins the TTL wiring (handler-managed expiry against the
    // replay-stable batch timestamp each row carries): with a TTL far
    // beyond the test's runtime nothing expires, so output must equal
    // the unbounded variant (TTL *expiry* is processing-time-
    // dependent and deliberately not asserted here)
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val ms = MemoryStream[(Long, String)]
      val q = graft.api.NearDupStream
        .nearDupStream(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
          minSim = 0.5, ttlMs = 24L * 3600 * 1000)
        .writeStream.format("memory").queryName("neardup_ttl")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      ms.addData(docs.toSeq: _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup_ttl")
        .select("doc_id", "matched_id", "est_sim").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = queries.Streaming.qStreamNeardup(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"un-expired TTL state must behave like unbounded state; " +
          s"missing=${(want diff got).take(5)} extra=${(got diff want).take(5)}")
    }
  }

  test("q_stream_neardup (#124): TTL EVICTION bounds state under sustained input — expired entries leave the store and stop matching") {
    // The state-bound contract (VERDICT r13 #7): with ttlMs set, a
    // bucket's ListState holds only the trailing window — entries
    // older than the TTL are compacted away the next time the bucket
    // is touched, so total state is ∝ ingest rate × window, NOT
    // corpus size. Pinned two ways: (a) semantics — docs arriving
    // after the TTL has passed do NOT match the expired generation;
    // (b) size — the store's numRowsTotal after the second wave is
    // the second wave's population only.
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      // identical texts ⇒ all docs land in the SAME 6 band buckets,
      // so wave 2 touches (and compacts) every bucket wave 1 filled
      val text = "the quick brown fox jumps over the lazy dog tonight"
      val wave1 = (1L to 20L).map(i => (i, text))
      val wave2 = (21L to 25L).map(i => (i, text))
      val ms = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("neardup_evict_ck").toString
      val q = graft.api.NearDupStream
        .nearDupStream(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
          minSim = 0.5, ttlMs = 1000L)
        .writeStream.format("memory").queryName("neardup_evict")
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      ms.addData(wave1: _*)
      q.processAllAvailable()
      Thread.sleep(2500) // batch timestamps advance past the 1s TTL
      ms.addData(wave2: _*)
      q.processAllAvailable()
      val got = spark.table("neardup_evict")
        .select("doc_id", "matched_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // (a) wave-2 docs match only within wave 2 — wave 1 expired
      val cross = got.filter { case (d, m) => d >= 21L && m <= 20L }
      assert(cross.isEmpty,
        s"expired wave-1 entries must not match wave 2, got ${cross.take(5).toSeq}")
      assert(got.count { case (d, m) => d >= 21L && m >= 21L } == 5 * 4 / 2,
        "wave-2 docs must still match each other")
      // (b) the store physically shrank to wave 2's population: read
      // the checkpoint back through the state data source — one row
      // per ListState ELEMENT — and count. (The progress metric
      // numRowsTotal counts state KEYS — 6 buckets regardless — so
      // the element-level check must go to the store itself.)
      q.stop()
      val elems = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "seen").load()
      val nElems = elems.count()
      assert(nElems == 5L * 6L,
        s"state after eviction must hold wave-2 entries only (30), got $nElems")
    }
  }

  test("q_stream_neardup (#124): storeTtl evicts COLD buckets without a touch — state bounded by the window, not the corpus") {
    // The r15 streaming scale probe showed handler-managed TTL never
    // reclaims buckets that are not touched again — on a realistic
    // corpus that is MOST buckets, so state grew with corpus size.
    // storeTtl=true adds a store-side TTLConfig whose expiry index
    // evicts per batch without a touch. This pins exactly that: a
    // wave of mutually-dissimilar docs (every band bucket cold
    // forever after) must leave an EMPTY store once the TTL passes.
    // Note: TTLConfig forces endless empty cleanup batches, so the
    // test drives the query production-style (continuous trigger,
    // poll the store through the state data source, manual stop) —
    // processAllAvailable would never settle here.
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val docs = (1L to 12L).map(i =>
        (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      val ms = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("neardup_cold_ck").toString
      val q = graft.api.NearDupStream
        .nearDupStream(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
          minSim = 0.5, ttlMs = 1000L, storeTtl = true)
        .writeStream.format("memory").queryName("neardup_cold")
        .option("checkpointLocation", ckpt)
        .outputMode("update").trigger(Trigger.ProcessingTime(100)).start()
      ms.addData(docs: _*)
      def storeElems(): Long =
        scala.util.Try(spark.read.format("statestore")
          .option("path", ckpt).option("stateVarName", "seen").load().count())
          .getOrElse(-1L) // a batch may be mid-commit; retry next poll
      // phase 1: ingest lands — the store must first FILL (12 docs ×
      // 6 bands = 72 list elements) so the later 0 is a real eviction
      val deadline = System.nanoTime() + 90L * 1000000000L
      var filled = 0L
      while (filled < 72L && System.nanoTime() < deadline) {
        Thread.sleep(300); filled = math.max(filled, storeElems())
      }
      assert(filled == 72L, s"store must fill before eviction, saw $filled")
      // phase 2: TTL passes with NO further input — cold buckets must
      // drain to zero purely via the store's expiry index
      var left = filled
      while (left != 0L && System.nanoTime() < deadline) {
        Thread.sleep(300); val n = storeElems(); if (n >= 0) left = n
      }
      q.stop()
      assert(left == 0L,
        s"store-side TTL must evict cold buckets without a touch, $left elements remain")
    }
  }

  test("drainAndStop: storeTtl stream drains a bounded corpus, stops clean — output == batch dual, store empty") {
    // r16 (VERDICT r15 Next-round #4): TTLConfig queries never
    // terminate on their own (forced cleanup batches), so bounded
    // runs needed a script idiom; drainAndStop is that idiom shipped.
    // One MemoryStream batch carries the whole corpus, so every match
    // happens inside a single batch timestamp (nothing expires DURING
    // matching — output must equal the unbounded batch dual), then the
    // grace period lets the expiry index evict everything: the store
    // must be EMPTY after the clean stop.
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val ms = MemoryStream[(Long, String)]
      ms.addData(docs.toSeq: _*)
      val ckpt = java.nio.file.Files.createTempDirectory("neardup_drain_ck").toString
      val ttl = 1500L
      val r = graft.api.NearDupStream.drainAndStop(spark, () =>
        graft.api.NearDupStream
          .nearDupStream(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
            minSim = 0.5, ttlMs = ttl, storeTtl = true)
          .writeStream.format("memory").queryName("neardup_drain")
          .option("checkpointLocation", ckpt)
          .outputMode("update").trigger(Trigger.ProcessingTime(100)).start(),
        sourceRows = docs.length.toLong, graceMs = ttl + 4000L,
        timeoutMs = 120000L)
      assert(r.drained == docs.length.toLong && !r.query.isActive,
        s"helper must report a full drain (${r.drained}) and a stopped query")
      val got = spark.table("neardup_drain")
        .select("doc_id", "matched_id", "est_sim").distinct()
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      val want = queries.Streaming.qStreamNeardup(spark, sf0001)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      assert(got == want,
        s"drained storeTtl output must equal the batch dual; " +
          s"missing=${(want diff got).take(5)} extra=${(got diff want).take(5)}")
      val elems = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "seen").load().count()
      assert(elems == 0L,
        s"grace > TTL must leave an empty store, $elems elements remain")
    }
  }

  test("q_stream_neardup (#124): bucket state survives a checkpoint restart — matches still equal the batch dual") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val (chunk1, chunk2) = docs.partition(_._1 < 250L)
      val cp = java.nio.file.Files.createTempDirectory("neardup_cp").toString
      val acc = scala.collection.concurrent.TrieMap.empty[(Long, Long, Double), Unit]
      val ms = MemoryStream[(Long, String)]
      def start() = graft.api.NearDupStream
        .nearDupStream(ms.toDF().toDF("doc_id", "text"), "doc_id", "text", minSim = 0.5)
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            acc.put((r.getLong(0), r.getLong(1), r.getDouble(3)), ()))
          ()
        }.start()
      val q1 = start()
      ms.addData(chunk1.toSeq: _*)
      q1.processAllAvailable()
      q1.stop() // chunk1's bucket lists survive only via RocksDB + checkpoint
      val q2 = start()
      ms.addData(chunk2.toSeq: _*)
      q2.processAllAvailable()
      q2.stop()
      val want = queries.Streaming.qStreamNeardup(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(acc.keySet == want,
        s"post-restart matches must equal the batch dual; " +
          s"missing=${(want diff acc.keySet).take(5)} extra=${(acc.keySet diff want).take(5)}")
      assert(acc.keySet.exists(p => p._1 >= 250L && p._2 < 250L),
        "a post-restart doc must match a pre-restart doc from recovered state")
    }
  }

  test("StreamDecon: streamed gate == batch q_decontaminate, across a checkpoint restart") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val eval = docs.filter(col("doc_id") < 20).select("doc_id", "text")
    val train = docs.filter(col("doc_id") >= 20)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (chunk1, chunk2) = train.partition(_._1 % 2 == 0)
    val out = java.nio.file.Files.createTempDirectory("sdecon_out").toString
    val cp = java.nio.file.Files.createTempDirectory("sdecon_cp").toString
    val ms = MemoryStream[(Long, String)]
    def start() = graft.api.StreamDecon.start(
      ms.toDF().toDF("doc_id", "text"), eval, out, cp,
      expectedEvalShingles = 10000L)
    val q1 = start()
    ms.addData(chunk1.toSeq: _*)
    q1.processAllAvailable()
    q1.stop() // mid-stream kill: offsets survive only via the checkpoint
    val q2 = start()
    ms.addData(chunk2.toSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val got = graft.api.StreamDecon.readFlagged(spark, out).collect()
      .map(r => (r.getAs[Long]("train_doc"), r.getAs[Long]("eval_doc"),
        r.getAs[Long]("n_shared"))).toSet
    val want = graft.queries.PipelineExtras.qDecontaminate(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("train_doc"), r.getAs[Long]("eval_doc"),
        r.getAs[Long]("n_shared"))).toSet
    assert(got == want,
      s"streamed flags must equal the batch query; diff=${(got diff want).take(5)} / ${(want diff got).take(5)}")
    // the gated-clean side is exactly the unflagged train docs
    val clean = graft.api.StreamDecon.readClean(spark, out).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val flaggedDocs = want.map(_._1)
    assert(clean == (train.map(_._1).toSet diff flaggedDocs),
      "clean output must be the train docs minus the flagged ones")
    // replay idempotence: a crash-in-commit reruns a batch with the
    // SAME id — the per-batch dirs overwrite, so nothing duplicates
    val filter = graft.api.BloomDecon.evalFilter(eval, expectedEvalShingles = 10000L)
    val replayBatch = spark.createDataFrame(chunk2.toSeq).toDF("doc_id", "text")
    graft.api.StreamDecon.writeBatch(filter, replayBatch, out, 1L)
    val again = graft.api.StreamDecon.readFlagged(spark, out).collect()
      .map(r => (r.getAs[Long]("train_doc"), r.getAs[Long]("eval_doc"),
        r.getAs[Long]("n_shared"))).toSet
    assert(again == want, "replaying a batch id must not duplicate flags")
  }

  test("StreamDecon cleanTable: clean side lands in ONE upsert table; re-delivery upserts") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val eval = docs.filter(col("doc_id") < 20).select("doc_id", "text")
    val train = docs.filter(col("doc_id") >= 20)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val flaggedIds = graft.queries.PipelineExtras.qDecontaminate(spark, sf0001)
      .collect().map(_.getAs[Long]("train_doc")).toSet
    val (chunk1, chunk2) = train.partition(_._1 % 2 == 0)
    // a clean chunk1 doc reappears UPDATED in chunk2 — the CDC-shaped
    // case the upsert composition exists for ("updated" is outside the
    // eval vocabulary, so the new revision stays clean)
    val redeliver = chunk1.find(d => !flaggedIds(d._1)).get
    val updated = (redeliver._1, redeliver._2 + " updated")
    val out = java.nio.file.Files.createTempDirectory("sdecon_ut_out").toString
    val cp = java.nio.file.Files.createTempDirectory("sdecon_ut_cp").toString
    val table = s"$out/clean_table"
    val ms = MemoryStream[(Long, String)]
    def start() = graft.api.StreamDecon.start(
      ms.toDF().toDF("doc_id", "text"), eval, out, cp,
      expectedEvalShingles = 10000L,
      cleanTable = Some(table), cleanTableBuckets = 4)
    val q1 = start()
    ms.addData(chunk1.toSeq: _*)
    q1.processAllAvailable()
    q1.stop() // restart between batches: the table commit must survive
    val q2 = start()
    ms.addData((chunk2 :+ updated).toSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    def tableState() = graft.api.StreamzOps.readUpsertTable(spark, table)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val rows = tableState()
    assert(rows.length == rows.map(_._1).distinct.length,
      "upsert table must hold each doc_id once")
    assert(rows.map(_._1).toSet == (train.map(_._1).toSet diff flaggedIds),
      "table must hold exactly the gated-clean doc ids")
    assert(rows.toMap.apply(redeliver._1) == updated._2,
      "the re-delivered doc's LATER revision must win the upsert")
    // replay idempotence: rerunning chunk2's batch id leaves the same state
    val filter = graft.api.BloomDecon.evalFilter(eval, expectedEvalShingles = 10000L)
    val replayBatch = spark.createDataFrame((chunk2 :+ updated).toSeq).toDF("doc_id", "text")
    graft.api.StreamDecon.writeBatch(filter, replayBatch, out, 1L,
      cleanTable = Some(table), cleanTableBuckets = 4)
    assert(tableState().sorted.toSeq == rows.sorted.toSeq,
      "replaying a batch must not change the table state")
    // tombstone: the doc's NEXT revision is contaminated (an eval doc's
    // own text — certain to flag) -> the doc must LEAVE the table, not
    // linger at its stale clean revision
    val evalText = eval.filter(col("doc_id") === 0).collect().head.getString(1)
    val dirtyRev = spark.createDataFrame(Seq((redeliver._1, evalText)))
      .toDF("doc_id", "text")
    graft.api.StreamDecon.writeBatch(filter, dirtyRev, out, 2L,
      cleanTable = Some(table), cleanTableBuckets = 4)
    val afterTomb = tableState()
    assert(!afterTomb.map(_._1).contains(redeliver._1),
      "a doc whose latest revision is flagged must be tombstoned out")
    assert(afterTomb.length == rows.length - 1,
      "only the tombstoned doc leaves; everything else stays")
    // readCleanTable drops the internal upsert columns
    val cols = graft.api.StreamDecon.readCleanTable(spark, table).columns.toSet
    assert(cols == Set("doc_id", "text"), s"internal columns must be dropped: $cols")
    // in-batch duplicate: two clean revisions of one doc in ONE batch
    // have no arrival order — the winner is the deterministic
    // content-hash pick, so a replay keeps the SAME revision
    val dup = spark.createDataFrame(Seq(
      (redeliver._1, redeliver._2 + " revA"),
      (redeliver._1, redeliver._2 + " revB"))).toDF("doc_id", "text")
    graft.api.StreamDecon.writeBatch(filter, dup, out, 3L,
      cleanTable = Some(table), cleanTableBuckets = 4)
    val winner = tableState().toMap.apply(redeliver._1)
    graft.api.StreamDecon.writeBatch(filter, dup, out, 3L,
      cleanTable = Some(table), cleanTableBuckets = 4)
    assert(tableState().toMap.apply(redeliver._1) == winner,
      "in-batch duplicate winner must be deterministic under replay")
    filter.close()
  }

  test("StreamDecon flaggedScd2: flip-to-clean closes the verdict interval; re-contamination reopens; replay-idempotent") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val eval = docs.filter(col("doc_id") < 20).select("doc_id", "text")
    val evalText = eval.filter(col("doc_id") === 0).collect().head.getString(1)
    val cleanText = "zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh zzqi zzqj zzqk zzql"
    val out = java.nio.file.Files.createTempDirectory("sdecon_scd2_out").toString
    val cp = java.nio.file.Files.createTempDirectory("sdecon_scd2_cp").toString
    val table = s"$out/flag_hist"
    val ms = MemoryStream[(Long, String)]
    def start() = graft.api.StreamDecon.start(
      ms.toDF().toDF("doc_id", "text"), eval, out, cp,
      expectedEvalShingles = 10000L,
      flaggedScd2 = Some(table), cleanTableBuckets = 4)
    def hist() = graft.api.StreamDecon.readFlaggedHistory(spark, table)
      .select("doc_id", "_ingest_batch", "valid_to_ord", "is_current").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3))).toSet
    // batch 0: doc 900 contaminated (an eval doc's own text), 901 clean
    val q1 = start()
    ms.addData((900L, evalText), (901L, cleanText))
    q1.processAllAvailable()
    assert(hist() == Set((900L, 0L, -1L, 1)),
      s"one OPEN verdict interval for the flagged doc only, got ${hist()}")
    val verd = graft.api.StreamDecon.readFlaggedHistory(spark, table).collect().head
    assert(verd.getAs[Long]("eval_hits") >= 1L &&
      verd.getAs[scala.collection.Seq[Long]]("eval_docs").contains(0L) &&
      verd.getAs[Long]("max_shared") >= 1L, s"verdict must carry evidence: $verd")
    // batch 1: doc 900 re-delivered CLEAN -> the interval closes
    ms.addData((900L, cleanText))
    q1.processAllAvailable()
    q1.stop()
    assert(hist() == Set((900L, 0L, 1L, 0)),
      s"flip-to-clean must close the interval at ord 1, got ${hist()}")
    // restart (same checkpoint): batch 2 re-contaminates -> NEW interval
    val q2 = start()
    ms.addData((900L, evalText))
    q2.processAllAvailable()
    q2.stop()
    assert(hist() == Set((900L, 0L, 1L, 0), (900L, 2L, -1L, 1)),
      s"re-contamination must open a fresh current interval, got ${hist()}")
    // replay of the last batch converges to the same history
    val filter = graft.api.BloomDecon.evalFilter(eval, expectedEvalShingles = 10000L)
    val replay = spark.createDataFrame(Seq((900L, evalText))).toDF("doc_id", "text")
    graft.api.StreamDecon.writeBatch(filter, replay, out, 2L,
      flaggedScd2 = Some(table), cleanTableBuckets = 4)
    assert(hist() == Set((900L, 0L, 1L, 0), (900L, 2L, -1L, 1)),
      "replaying the batch must not change the history")
    filter.close()
  }

  test("StreamDecon cleanTable: a FRESH checkpoint re-bases the epoch — new revisions still beat stored rows") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val docs = Tables.documents(spark, sf0001)
    val eval = docs.filter(col("doc_id") < 20).select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("sdecon_epoch_out").toString
    val table = s"$out/clean_table"
    def startOn(ms: MemoryStream[(Long, String)], cp: String) =
      graft.api.StreamDecon.start(
        ms.toDF().toDF("doc_id", "text"), eval, out, cp,
        expectedEvalShingles = 10000L,
        cleanTable = Some(table), cleanTableBuckets = 4)
    def text() = graft.api.StreamDecon.readCleanTable(spark, table)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // lineage 1: two batches -> the doc's stored order reaches 1
    val cp1 = java.nio.file.Files.createTempDirectory("sdecon_epoch_cp1").toString
    val ms1 = MemoryStream[(Long, String)]
    val q1 = startOn(ms1, cp1)
    ms1.addData((500L, "zzqa zzqb revA")); q1.processAllAvailable()
    ms1.addData((500L, "zzqa zzqb revB")); q1.processAllAvailable()
    q1.stop()
    assert(text()(500L).endsWith("revB"))
    // lineage 2: FRESH checkpoint, batch ids restart at 0. Without the
    // epoch marker the stored order-1 row would out-rank this forever.
    val cp2 = java.nio.file.Files.createTempDirectory("sdecon_epoch_cp2").toString
    val ms2 = MemoryStream[(Long, String)]
    val q2 = startOn(ms2, cp2)
    ms2.addData((500L, "zzqa zzqb revC")); q2.processAllAvailable()
    q2.stop()
    assert(text()(500L).endsWith("revC"),
      "the fresh lineage's revision must win over the stored one")
    // and a RESUME of lineage 2 keeps its pinned base (marker present)
    val q3 = startOn(ms2, cp2)
    ms2.addData((500L, "zzqa zzqb revD")); q3.processAllAvailable()
    q3.stop()
    assert(text()(500L).endsWith("revD"),
      "resuming the same checkpoint must keep ordering monotonic")
  }

  test("funnelStream: streaming ordered-step funnel == batch q_funnel, across batches and a restart") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      // deliver the whole fixture in event-time order over 3 batches
      // with a restart in between — the streaming statuses must land
      // on exactly batch q_funnel's stage counts
      val ev = Tables.events(spark, sf0001)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").cast("long"), col("event_type"), col("ts"))
        .orderBy("ts")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      val n = ev.length
      val chunks = Seq(ev.slice(0, n / 3), ev.slice(n / 3, 2 * n / 3),
        ev.slice(2 * n / 3, n))
      val cp = java.nio.file.Files.createTempDirectory("funnel_tws_cp").toString
      val latest = scala.collection.concurrent.TrieMap
        .empty[Long, (Option[Long], Option[Long], Option[Long])]
      def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      val ms = MemoryStream[(Long, String, Timestamp)]
      def start() = graft.api.StreamzStateOps.funnelStream(
          ms.toDF().toDF("user_id", "event_type", "ts")
            .withWatermark("ts", "1 hour"),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), horizonUs = 86400000000L)
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            latest(r.getLong(0)) = (optLong(r, 1), optLong(r, 2), optLong(r, 3))
          }
          ()
        }.start()
      val q1 = start()
      ms.addData(chunks(0).toSeq: _*); q1.processAllAvailable()
      ms.addData(chunks(1).toSeq: _*); q1.processAllAvailable()
      q1.stop() // candidate lists + minT1 survive only via the checkpoint
      val q2 = start()
      ms.addData(chunks(2).toSeq: _*); q2.processAllAvailable()
      q2.stop()
      val got = (latest.values.count(_._1.isDefined).toLong,
        latest.values.count(_._2.isDefined).toLong,
        latest.values.count(_._3.isDefined).toLong)
      val b = graft.queries.Analytics.qFunnel(spark, sf0001).collect()(0)
      val want = (b.getLong(0), b.getLong(1), b.getLong(2))
      assert(got == want, s"streaming funnel counts $got != batch $want")
      assert(got._1 > got._2 && got._2 > got._3 && got._3 > 0,
        s"fixture should produce a strict funnel gradient, got $got")
    }
  }

  test("twapStream: streaming time-weighted average == batch q_twap, across batches and a restart") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val ev = Tables.events(spark, sf0001)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("ts"), col("value").cast("double"))
        .orderBy("ts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      val n = ev.length
      val chunks = Seq(ev.slice(0, n / 3), ev.slice(n / 3, 2 * n / 3),
        ev.slice(2 * n / 3, n))
      val cp = java.nio.file.Files.createTempDirectory("twap_tws_cp").toString
      val latest = scala.collection.concurrent.TrieMap
        .empty[(Long, java.sql.Date), (Double, Long)]
      val ms = MemoryStream[(Long, Long, Timestamp, Double)]
      def start() = graft.api.StreamzStateOps.twapStream(
          ms.toDF().toDF("user_id", "event_id", "ts", "value")
            .withWatermark("ts", "1 hour"),
          "user_id", "event_id", "ts", "value")
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            latest((r.getLong(0), r.getDate(1))) = (r.getDouble(2), r.getLong(3))
          }
          ()
        }.start()
      val q1 = start()
      ms.addData(chunks(0).toSeq: _*); q1.processAllAvailable()
      ms.addData(chunks(1).toSeq: _*); q1.processAllAvailable()
      q1.stop() // the day's readings survive only via the checkpoint
      val q2 = start()
      ms.addData(chunks(2).toSeq: _*); q2.processAllAvailable()
      q2.stop()
      val want = graft.queries.Analytics.qTwap(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getDate(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      assert(want.nonEmpty && latest.size == want.size,
        s"key sets differ: streamed=${latest.size} batch=${want.size}")
      want.foreach { case (k, (twapB, secsB)) =>
        val (twapS, secsS) = latest.getOrElse(k, fail(s"missing streamed key $k"))
        assert(secsS == secsB, s"$k: total_secs $secsS != $secsB")
        assert(math.abs(twapS - twapB) <= 1e-9, s"$k: twap $twapS != $twapB")
      }
    }
  }

  test("cohortStream: append-once user rows aggregate to batch q_cohort_retention for sealed cohorts") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val ev = Tables.events(spark, sf0001)
        .select(col("user_id").cast("long"), col("event_type"), col("ts"))
        .orderBy("ts")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      val n = ev.length
      val chunks = Seq(ev.slice(0, n / 3), ev.slice(n / 3, 2 * n / 3),
        ev.slice(2 * n / 3, n))
      val cp = java.nio.file.Files.createTempDirectory("cohort_tws_cp").toString
      val emitted = scala.collection.mutable.ArrayBuffer
        .empty[(Long, java.sql.Date, Int)]
      val ms = MemoryStream[(Long, String, Timestamp)]
      def start() = graft.api.StreamzStateOps.cohortStream(
          ms.toDF().toDF("user_id", "event_type", "ts")
            .withWatermark("ts", "1 hour"),
          "user_id", "event_type", "ts", cohortType = "purchase")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted.synchronized {
            df.collect().foreach(r =>
              emitted += ((r.getLong(0), r.getDate(1), r.getInt(2))))
          }
          ()
        }.start()
      val q1 = start()
      ms.addData(chunks(0).toSeq: _*); q1.processAllAvailable()
      ms.addData(chunks(1).toSeq: _*); q1.processAllAvailable()
      q1.stop() // cohort day, activity set AND the armed timer must survive
      val q2 = start()
      ms.addData(chunks(2).toSeq: _*); q2.processAllAvailable()
      q2.stop()
      // append-once: no user emits twice
      assert(emitted.map(_._1).distinct.size == emitted.size,
        s"duplicate per-user emissions: ${emitted.groupBy(_._1).filter(_._2.size > 1).keys.take(5)}")
      // sealed cohorts = watermark passed cohort_day + 8
      val wmMs = ev.map(_._3.getTime).max - 3600000L
      val got = emitted.groupBy(_._2).map { case (d, rows) =>
        d -> (rows.size.toLong, rows.map(_._3).sum.toLong) }
      val want = graft.queries.Analytics.qCohortRetention(spark, sf0001).collect()
        .map(r => r.getDate(0) -> (r.getLong(1), r.getLong(2)))
        .filter { case (d, _) => (d.toLocalDate.toEpochDay + 8) * 86400000L <= wmMs }
        .toMap
      assert(want.nonEmpty, "fixture must seal at least one cohort")
      assert(got == want,
        s"sealed-cohort aggregates differ:\n got=${got.toSeq.sortBy(_._1.toString)}\nwant=${want.toSeq.sortBy(_._1.toString)}")
    }
  }

  test("twapStream: a late reading SPLITS an existing interval exactly") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val ms = MemoryStream[(Long, Long, Timestamp, Double)]
      val out = graft.api.StreamzStateOps.twapStream(
        ms.toDF().toDF("user_id", "event_id", "ts", "value")
          .withWatermark("ts", "24 hours"),
        "user_id", "event_id", "ts", "value")
      val q = out.writeStream.format("memory").queryName("twap_ooo")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // 10.0 for 1000s (10:00:00 → 10:16:40)
        ms.addData((7L, 1L, ts("2024-01-01 10:00:00"), 10.0),
          (7L, 2L, ts("2024-01-01 10:16:40"), 99.0))
        q.processAllAvailable()
        var rows = spark.table("twap_ooo").collect()
        assert(rows.last.getDouble(2) == 10.0 && rows.last.getLong(3) == 1000L)
        // late reading lands INSIDE the interval: 10.0 for 400s, then
        // 20.0 for 600s → (10*400 + 20*600) / 1000 = 16.0
        ms.addData((7L, 3L, ts("2024-01-01 10:06:40"), 20.0))
        q.processAllAvailable()
        rows = spark.table("twap_ooo").collect()
        assert(rows.last.getDouble(2) == 16.0 && rows.last.getLong(3) == 1000L,
          s"late mid-interval reading must re-split the weights; got ${rows.last}")
        // same-µs tie across batches: the batch window orders by
        // (ts, event_id), so the HIGHER id of a tie carries the next
        // interval even when it ARRIVES later
        ms.addData((8L, 10L, ts("2024-01-01 11:00:00"), 50.0),
          (8L, 12L, ts("2024-01-01 11:00:30"), 0.0))
        q.processAllAvailable()
        ms.addData((8L, 11L, ts("2024-01-01 11:00:00"), 70.0))
        q.processAllAvailable()
        val u8 = spark.table("twap_ooo").collect().filter(_.getLong(0) == 8L).last
        assert(u8.getDouble(2) == 70.0 && u8.getLong(3) == 30L,
          s"tie order must match the batch (ts, event_id) window; got $u8")
      } finally q.stop()
    }
  }

  test("funnelStream: a late, earlier step-1 re-qualifies a RETAINED step-2 candidate") {
    // The case that makes streaming funnels need candidate retention
    // instead of running minima: a click that is ineligible under the
    // current t1 (it precedes it) must come back when a late view
    // lowers t1 below it.
    withRocksDb {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    def usOf(s: String): Long = ts(s).toInstant.getEpochSecond * 1000000L
    val ms = MemoryStream[(Long, String, Timestamp)]
    val out = graft.api.StreamzStateOps.funnelStream(
      ms.toDF().toDF("user_id", "event_type", "ts")
        .withWatermark("ts", "24 hours"),
      "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), horizonUs = 86400000000L)
    val q = out.writeStream.format("memory").queryName("funnel_ooo")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    def last(): (Option[Long], Option[Long], Option[Long]) = {
      // Update mode appends one status row per batch the user is in;
      // in-test we track definedness monotonically via the latest row
      val rows = spark.table("funnel_ooo").collect()
      val r = rows.last
      def o(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (o(1), o(2), o(3))
    }
    try {
      ms.addData((1L, "click", ts("2024-01-01 10:00:00")),
        (1L, "view", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      assert(last() == (Some(usOf("2024-01-01 12:00:00")), None, None),
        "click precedes t1 — funnel must be stuck at stage 1")
      // late view 3h earlier: t1 drops, the retained click qualifies,
      // and the purchase completes the funnel in the same batch
      ms.addData((1L, "view", ts("2024-01-01 09:00:00")),
        (1L, "purchase", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      assert(last() == (Some(usOf("2024-01-01 09:00:00")),
        Some(usOf("2024-01-01 10:00:00")), Some(usOf("2024-01-01 11:00:00"))),
        "late earlier view must re-qualify the click and complete the funnel")
    } finally q.stop()
    }
  }

  test("gapfillStream: append-once sealed days == batch q_gapfill, across batches and a restart") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val ev = Tables.events(spark, sf0001)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("ts"), col("value").cast("double"))
        .orderBy("ts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      val n = ev.length
      val chunks = Seq(ev.slice(0, n / 3), ev.slice(n / 3, 2 * n / 3),
        ev.slice(2 * n / 3, n))
      // sentinel far past the fixture: pushes the watermark beyond
      // every real day's end, so EVERY batch row's day seals; the
      // sentinel's own day stays unsealed (wm = its ts − 1h) and
      // must emit nothing
      val sentinel = (999999L, 1L,
        new Timestamp(ev.map(_._3.getTime).max + 40L * 86400000L), 1.0)
      val cp = java.nio.file.Files.createTempDirectory("gapfill_tws_cp").toString
      val got = scala.collection.concurrent.TrieMap
        .empty[(Long, String), (Double, Int)]
      val ms = MemoryStream[(Long, Long, Timestamp, Double)]
      def start() = graft.api.StreamzStateOps.gapfillStream(
          ms.toDF().toDF("user_id", "event_id", "ts", "value")
            .withWatermark("ts", "1 hour"),
          "user_id", "event_id", "ts", "value")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            val k = (r.getLong(0), r.getDate(1).toString)
            assert(!got.contains(k), s"append-once violated: $k emitted twice")
            got(k) = (r.getDouble(2), r.getInt(3))
          }
          ()
        }.start()
      val q1 = start()
      ms.addData(chunks(0).toSeq: _*); q1.processAllAvailable()
      ms.addData(chunks(1).toSeq: _*); q1.processAllAvailable()
      q1.stop() // cursor/carry/pending survive only via the checkpoint
      val q2 = start()
      ms.addData(chunks(2).toSeq: _*); q2.processAllAvailable()
      ms.addData(sentinel); q2.processAllAvailable()
      q2.stop()
      val streamed = got.filter(_._1._1 != 999999L)
      val want = graft.queries.Analytics.qGapfill(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getDate(1).toString) ->
          (r.getDouble(2), r.getLong(3).toInt)).toMap
      assert(want.nonEmpty && streamed.size == want.size,
        s"key sets differ: streamed=${streamed.size} batch=${want.size}; " +
          s"missing=${(want.keySet diff streamed.keySet).take(5)} " +
          s"extra=${(streamed.keySet diff want.keySet).take(5)}")
      want.foreach { case (k, (vB, obsB)) =>
        val (vS, obsS) = streamed(k)
        assert(obsS == obsB, s"$k: is_observed $obsS != $obsB")
        assert(vS == vB, s"$k: v_filled $vS != $vB (must be exact — cents copy)")
      }
    }
  }

  test("gapfillStream: a late same-day reading re-picks the day; a later reading unlocks watermarked gap days; below-watermark drops") {
    withRocksDb {
      val sess = spark
      import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double, Int)]
      val ms = MemoryStream[(Long, Long, Timestamp, Double)]
      val q = graft.api.StreamzStateOps.gapfillStream(
          ms.toDF().toDF("user_id", "event_id", "ts", "value")
            .withWatermark("ts", "1 hour"),
          "user_id", "event_id", "ts", "value")
        .writeStream.outputMode("append").queryName("gap_ooo")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.synchronized {
            got += ((r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getInt(3)))
          })
          ()
        }.start()
      try {
        ms.addData((1L, 1L, ts("2024-01-01 12:00:00"), 10.0))
        q.processAllAvailable()
        assert(got.isEmpty, "nothing seals while the watermark sits inside day 0")
        // one batch carrying BOTH a late same-day re-pick (18:00 beats
        // 12:00) and a day-3 reading that moves the watermark past
        // days 0-2 AND extends the span over the gap days
        ms.addData((1L, 2L, ts("2024-01-01 18:00:00"), 99.0),
          (1L, 3L, ts("2024-01-04 12:00:00"), 30.0))
        q.processAllAvailable()
        assert(got.toList == List(
          (1L, "2024-01-01", 99.0, 1),
          (1L, "2024-01-02", 99.0, 0),
          (1L, "2024-01-03", 99.0, 0)),
          s"sealed days must carry the re-picked 18:00 value; got $got")
        // below the watermark (wm ≈ Jan 4 11:00): dropped by the
        // engine — no re-emission, no pick change, day 3 already out
        ms.addData((1L, 4L, ts("2024-01-03 23:00:00"), 50.0))
        q.processAllAvailable()
        assert(got.size == 3, "a below-watermark reading must change nothing")
      } finally q.stop()
    }
  }

  test("StreamContain: streamed containment == batch q_dedup_containment, across a restart; subset pair found cross-batch") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // corpus = fixture + the planted quote-in-doc pair, split so the
    // CONTAINER arrives in batch 0 and the QUOTE in batch 1 — the
    // subset pair must surface across batches, i.e. through the
    // frozen-prefix / posting state, not within one micro-batch
    val words = (1 to 300).map(i => s"w${i * 7 % 211}x$i")
    val planted = Seq((9000L, words.mkString(" ")),
      (9001L, words.slice(100, 130).mkString(" ")))
    val fixture = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (chunk1, chunk2) = fixture.partition(_._1 % 2 == 0)
    val state = java.nio.file.Files.createTempDirectory("scont_state").toString
    val out = java.nio.file.Files.createTempDirectory("scont_out").toString
    val cp = java.nio.file.Files.createTempDirectory("scont_cp").toString
    val ms = MemoryStream[(Long, String)]
    def start() = graft.api.StreamContain.start(
      ms.toDF().toDF("doc_id", "text"), state, out, cp)
    val q1 = start()
    ms.addData((chunk1.toSeq :+ planted.head): _*)
    q1.processAllAvailable()
    q1.stop() // mid-stream kill: offsets survive only via the checkpoint
    val q2 = start()
    ms.addData((chunk2.toSeq :+ planted(1)): _*)
    q2.processAllAvailable()
    q2.stop()
    def pairMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val got = pairMap(graft.api.StreamContain.readPairs(spark, out))
    val want = pairMap(graft.queries.PipelineExtras.ngramContainmentPairs(
      spark.createDataFrame(fixture.toSeq ++ planted).toDF("doc_id", "text")))
    assert(want.contains((9000L, 9001L)),
      "sanity: the batch scorer must see the planted subset pair")
    assert(got == want,
      s"streamed pairs must equal the batch scorer; diff=" +
        s"${(got.keySet diff want.keySet).take(5)} / ${(want.keySet diff got.keySet).take(5)}")
    // replay idempotence: a crash-in-commit reruns a batch with the
    // SAME id — pairs and state dirs overwrite, nothing duplicates
    graft.api.StreamContain.writeBatch(
      spark.createDataFrame(chunk2.toSeq :+ planted(1)).toDF("doc_id", "text"),
      state, out, 1L, graft.queries.PipelineExtras.NGRAM_CONTAIN_MIN)
    val again = pairMap(graft.api.StreamContain.readPairs(spark, out))
    assert(again == want, "replaying a batch id must not duplicate pairs")
    // at-least-once: a doc re-delivered in a LATER batch is dropped
    // against the seen set — no self-pairs, no score changes
    graft.api.StreamContain.writeBatch(
      spark.createDataFrame(Seq(planted.head)).toDF("doc_id", "text"),
      state, out, 2L, graft.queries.PipelineExtras.NGRAM_CONTAIN_MIN)
    val after = pairMap(graft.api.StreamContain.readPairs(spark, out))
    assert(after == want, "re-delivering a seen doc must be a no-op")
    // frozen prefixes bake the threshold in: restarting the same
    // state dir at a LOWER threshold would silently lose recall, so
    // the pinned marker must refuse it outright
    val mismatch = intercept[IllegalStateException] {
      graft.api.StreamContain.writeBatch(
        spark.createDataFrame(Seq(planted.head)).toDF("doc_id", "text"),
        state, out, 3L, threshold = 0.6)
    }
    assert(mismatch.getMessage.contains("0.8") &&
      mismatch.getMessage.contains("fresh stateDir"),
      s"got: ${mismatch.getMessage}")
  }
}
