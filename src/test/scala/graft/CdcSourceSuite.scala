package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** PgCdcSimSource (SURVEY.md §7 M4): snapshot+poll micro-batch
  * replay of a deterministic changelog, and the reference's
  * table-replication semantic driven live through it.
  */
class CdcSourceSuite extends GraftSuite {

  /** A snapshot manifest's `bucket -> data dir` entry lines. */
  private def manifestEntries(path: String): Map[Int, String] =
    scala.io.Source.fromFile(path).getLines().toVector
      .filter(_.matches("\\d+\t.*")).map(_.split("\t", 2))
      .map(a => a(0).toInt -> a(1)).toMap

  private def readCdc(batchSize: Int, snapshotSeq: Int) =
    spark.readStream.format("pg-cdc-sim")
      .option("path", s"$sf0001/events.parquet")
      .option("batchSize", batchSize.toString)
      .option("snapshotSeq", snapshotSeq.toString)
      .option("numPartitions", "4")
      .load()

  test("snapshot + poll: replays the full changelog exactly once, in multiple micro-batches") {
    val q = readCdc(batchSize = 200, snapshotSeq = 499)
      .writeStream.format("memory").queryName("cdc_replay")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("cdc_replay")
    assert(got.count() == 1000, "all 1000 events replayed")
    assert(got.select("seq").distinct().count() == 1000, "exactly once per seq")
    // ops: I on first appearance of a key, U after
    val collected = got.select("key", "seq", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val firstSeqPerKey = collected.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val inserts = collected.filter(_._3 == "I")
    assert(inserts.length == firstSeqPerKey.size)
    assert(inserts.forall { case (k, s, _) => firstSeqPerKey(k) == s },
      "I must be exactly each key's first change")
    // snapshot then poll quantum: 1000 rows @ snapshot 500 + 200/poll
    // → ≥ 3 non-empty micro-batches
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length >= 3, s"expected snapshot+polls, got ${batches.toSeq}")
    assert(batches.head == 500, s"first batch must be the snapshot (got ${batches.toSeq})")
    assert(batches.tail.forall(_ <= 200), s"poll quantum respected: ${batches.toSeq}")
  }

  test("live table replication: streaming latest-by-key over CDC == batch q_cdc_latest_by_key") {
    val state = scala.collection.mutable.HashMap.empty[Long, (Long, Long, String, Double)]
    val q = readCdc(batchSize = 300, snapshotSeq = 99)
      .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // idempotent upsert by (seq) — the reference's "downstream
        // consumers reconstruct current table state" semantic
        df.select("key", "seq", "ts", "event_type", "value").collect().foreach { r =>
          val k = r.getLong(0); val seq = r.getLong(1)
          val cur = state.get(k)
          if (cur.isEmpty || cur.get._1 < seq)
            state(k) = (seq, r.getTimestamp(2).getTime, r.getString(3), r.getDouble(4))
        }
        ()
      }.start()
    q.awaitTermination(120000)
    val batch = queries.Streaming.qCdcLatestByKey(spark, sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_event_id")).toMap
    val gotSeqs = state.map { case (k, v) => k -> v._1 }.toMap
    assert(gotSeqs == batch,
      s"live replication must equal batch fold; diff=${(gotSeqs.toSet diff batch.toSet).take(5)}")
  }

  test("file source ingestion (§2A from_textfile analog): streaming parquet == batch on same file") {
    Tables.setEventsReadConfs(spark)
    // the file source watches a DIRECTORY (new files = new data)
    val watchDir = java.nio.file.Files.createTempDirectory("file_src").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$watchDir/events.parquet"))
    val sch = spark.read.parquet(s"$sf0001/events.parquet").schema
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .parquet(watchDir)
      .groupBy(col("event_type")).count()
      .writeStream.format("memory").queryName("file_src")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("file_src").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("CDC sink: foreachBatch idempotent merge into a key-partitioned parquet table") {
    val outDir = java.nio.file.Files.createTempDirectory("cdc_sink").toString + "/state"
    val q = readCdc(batchSize = 300, snapshotSeq = 499)
      .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // latest-per-key within the batch, then merge with the table:
        // read-modify-write keyed upsert (at scale: MERGE INTO /
        // partition overwrite on a lakehouse table — same contract)
        val sess = df.sparkSession
        val batchLatest = df.withColumn("rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("key")).orderBy(col("seq").desc)))
          .filter(col("rn") === 1).drop("rn")
        val merged = if (new java.io.File(outDir).exists()) {
          val cur = sess.read.parquet(outDir)
          cur.unionByName(batchLatest)
            .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("key")).orderBy(col("seq").desc)))
            .filter(col("rn") === 1).drop("rn")
        } else batchLatest
        val tmp = outDir + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        sess.read.parquet(tmp).write.mode("overwrite").parquet(outDir)
        ()
      }.start()
    q.awaitTermination(120000)
    val table = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    val want = queries.Streaming.qCdcLatestByKey(spark, sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_event_id")).toMap
    assert(table == want, "materialized table must equal the batch changelog fold")
  }

  test("batch read of the source returns the whole changelog") {
    val df = spark.read.format("pg-cdc-sim")
      .option("path", s"$sf0001/events.parquet").load()
    assert(df.count() == 1000)
    assert(df.schema.fieldNames.toSeq ==
      Seq("seq", "key", "op", "ts", "event_type", "value"))
  }

  test("executor-side predicate readers == driver-side reference derivation (incl. deletes)") {
    // the batch read resolves ChangelogSlice predicates executor-side
    // via parquet-hadoop; it must reproduce PgCdcSim.loadChangelog
    // (the driver-side reference oracle) byte for byte
    for (deletes <- Seq(false, true)) {
      val got = spark.read.format("pg-cdc-sim")
        .option("path", s"$sf0001/events.parquet")
        .option("deletes", deletes.toString).load()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3).getTime,
          if (r.isNullAt(4)) null else r.getString(4),
          if (r.isNullAt(5)) null else r.getDouble(5): java.lang.Double))
        .sortBy(_._1)
      val want = graft.sources.PgCdcSim
        .loadChangelog(s"$sf0001/events.parquet", deletes)
        .map(r => (r.seq, r.key, r.op, r.tsUs / 1000, r.eventType, r.value))
      assert(got.length == want.length, s"deletes=$deletes row count")
      assert(got.toSeq == want.toSeq, s"deletes=$deletes rows diverge")
      if (deletes) {
        val d = got.filter(_._3 == "D")
        assert(d.nonEmpty && d.forall(t => t._2 % 10 == 7 && t._5 == null && t._6 == null),
          "tombstones: deterministic key subset, null payload")
      } else assert(got.forall(_._3 != "D"))
    }
  }

  test("a changelog row with a null key fails the read, naming the column") {
    val sess = spark; import sess.implicits._
    val path = java.nio.file.Files.createTempDirectory("cdc_null_key").toString + "/log"
    Seq((0L, Option(1L)), (1L, Option(2L)), (2L, Option.empty[Long]), (3L, Option(1L)))
      .map { case (seq, key) => (seq, key, seq * 1000L, "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(path)
    val e = intercept[Exception](spark.read.format("pg-cdc-sim")
      .option("path", path).option("numPartitions", "1").load().collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("user_id")), s"error must name user_id: $messages")
  }

  test("sinkUpsert: CDC stream -> keyed-upsert table == q_cdc_latest_by_key; restart is a no-op") {
    import graft.api.StreamzOps._
    val base = java.nio.file.Files.createTempDirectory("sink_upsert").toString
    val table = s"$base/state"
    val cp = s"$base/cp"
    def run() = {
      val q = readCdc(batchSize = 300, snapshotSeq = 99)
        .sinkUpsert(table, Seq("key"), "seq", cp)
      q.awaitTermination(120000)
    }
    run()
    val want = queries.Streaming.qCdcLatestByKey(spark, sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_event_id")).toMap
    def tableState() = graft.api.StreamzOps.readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    assert(tableState() == want, "sinkUpsert table must equal the batch changelog fold")
    run() // restart from the same checkpoint: fully caught up -> no change
    assert(tableState() == want, "restart from checkpoint must be a no-op")
  }

  test("sinkUpsert with op=D tombstones: deleted keys absent from replicated state") {
    import graft.api.StreamzOps._
    val base = java.nio.file.Files.createTempDirectory("sink_upsert_del").toString
    val q = spark.readStream.format("pg-cdc-sim")
      .option("path", s"$sf0001/events.parquet")
      .option("batchSize", "300").option("snapshotSeq", "99")
      .option("numPartitions", "4").option("deletes", "true")
      .load()
      .sinkUpsert(s"$base/state", Seq("key"), "seq", s"$base/cp", opCol = Some("op"))
    q.awaitTermination(120000)
    val got = graft.api.StreamzOps.readUpsertTable(spark, s"$base/state").collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    val full = queries.Streaming.qCdcLatestByKey(spark, sf0001).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_event_id")).toMap
    val want = full.filter { case (k, _) => k % 10 != 7 }
    assert(full.keys.exists(_ % 10 == 7), "fixture has tombstoned keys")
    assert(got == want,
      s"tombstoned keys must be dropped, others keep latest seq; " +
        s"unexpected=${(got.toSet diff want.toSet).take(5)}")
  }

  test("sinkUpsert incremental publish: a 1-key batch rewrites exactly 1 bucket") {
    import graft.api.StreamzOps._
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val base = java.nio.file.Files.createTempDirectory("upsert_bucket").toString
    val table = s"$base/state"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val q = ms.toDF().toDF("key", "seq", "value")
      .sinkUpsert(table, Seq("key"), "seq", s"$base/cp", numBuckets = 8,
        trigger = Trigger.ProcessingTime(0))
    try {
      ms.addData((1L to 40L).map(k => (k, k, k * 1.0)): _*)
      q.processAllAvailable()
      ms.addData((1L, 1000L, 9.9))
      q.processAllAvailable()
    } finally q.stop()
    // commit m2 (the 1-key batch) maps exactly one bucket to its dir…
    val entries = manifestEntries(s"$table/manifest/m2")
    val rewritten = entries.filter(_._2 == "data/m2").keys.toSeq
    assert(rewritten.size == 1,
      s"1-key batch must rewrite exactly 1 bucket, rewrote $rewritten")
    // …every clean bucket's manifest entry still points into m1…
    assert(entries.count(_._2 == "data/m1") == entries.size - 1)
    assert(entries.size > 1, "fixture must span multiple buckets")
    // …and the dir holds the rows of that one bucket only
    val m2Buckets = spark.read.parquet(s"$table/data/m2")
      .select("_gb_bucket").distinct().collect().map(_.getInt(0)).toSeq
    assert(m2Buckets == rewritten, s"data/m2 holds buckets $m2Buckets")
    // and the snapshot reads back as the correct fold
    val got = readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    assert(got == ((2L to 40L).map(k => k -> k).toMap + (1L -> 1000L)))
  }

  test("bucketed sink commit evaluates each micro-batch exactly once") {
    import graft.api.StreamzOps._
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // every evaluation of an input row passes this UDF once, so the
    // accumulator counts how often the commit reads its batch
    val evals = spark.sparkContext.longAccumulator("sink_batch_evals")
    val seen = udf { (k: Long) => evals.add(1L); k }.asNondeterministic()
    // two commits per sink: the first creates the table, the second
    // also merges stored rows of the buckets it touches
    val batches = Seq(1L to 40L, 30L to 60L)
    def rows(ks: Seq[Long], batchId: Long) = spark.range(ks.head, ks.last + 1)
      .select(seen(col("id")).as("key"),
        (col("id") * 100 + batchId).as("seq"), (col("id") % 3).as("dn"))
    def base(name: String) =
      java.nio.file.Files.createTempDirectory(name).toString
    val sinks: Seq[(String, (DataFrame, String, Long) => Unit)] = Seq(
      "upsertBatch" -> ((df, t, id) => upsertBatch(df, t, Seq("key"), "seq", id)),
      "scd2Batch" -> ((df, t, id) => scd2Batch(df, t, Seq("key"), "seq", id)),
      "aggMaintainBatch" -> ((df, t, id) => aggMaintainBatch(
        df.select(col("key").cast("string").as("grp"), col("dn"),
          col("seq").as("dv")), t, Seq("grp"), id)))
    // the RDD operation scopes and task count of every stage of every
    // job a commit starts, tagged with the job group
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[(Set[String], Int)])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("") ->
        e.stageInfos.map(s => (s.rddInfos.flatMap(_.scope.map(_.name)).toSet, s.numTasks)))
    }
    def jobsSinceLastCall(): Seq[Seq[(Set[String], Int)]] = {
      // the listener bus is FIFO: once the sync job's start arrives,
      // every job the commit started has been delivered too
      sc.setJobGroup("sink-once-sync", "listener sync")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!jobs.asScala.exists(_._1 == "sink-once-sync") &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      val seen = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
      assert(seen.exists(_._1 == "sink-once-sync"), "the listener bus never delivered the sync job")
      seen.filter(_._1 != "sink-once-sync").map(_._2)
    }
    sc.addSparkListener(listener)
    try for ((name, commit) <- sinks) {
      val table = s"${base(name)}/state"
      for ((ks, id) <- batches.zipWithIndex) {
        evals.reset()
        jobsSinceLastCall()
        commit(rows(ks, id.toLong), table, id.toLong)
        assert(evals.value == ks.size,
          s"$name batch $id: ${evals.value} row evaluations for ${ks.size} rows")
        val stages = jobsSinceLastCall().flatten
        // parquet schema inference is a `parallelize` job over the
        // footers; the second commit reads its prior rows with the
        // schema the manifest records
        assert(!stages.exists(_._1("parallelize")),
          s"$name batch $id ran a schema-inference job")
        // one file per write task, not per bucket
        val writeTasks = stages.filter(_._1("WriteFiles")).map(_._2)
        assert(writeTasks.size == 1, s"$name batch $id: write stages $writeTasks")
        val files = new java.io.File(s"$table/data/m${id + 1}").listFiles
          .count(_.getName.endsWith(".parquet"))
        assert(files >= 1 && files <= writeTasks.head,
          s"$name batch $id wrote $files files from ${writeTasks.head} write tasks")
      }
    } finally sc.removeSparkListener(listener)
    // the streaming sink runs the same commit from foreachBatch
    val dir = base("sink_once")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = ms.toDF().select(seen(col("_1")).as("key"), col("_2").as("seq"))
      .sinkUpsert(s"$dir/state", Seq("key"), "seq", s"$dir/cp",
        trigger = Trigger.ProcessingTime(0))
    try for ((ks, id) <- batches.zipWithIndex) {
      evals.reset()
      ms.addData(ks.map(k => (k, k * 100 + id)): _*)
      q.processAllAvailable()
      assert(evals.value == ks.size,
        s"sinkUpsert: ${evals.value} row evaluations for ${ks.size} rows")
    } finally q.stop()
  }

  test("predicate pushdown: a narrow slice of a multi-row-group changelog materializes far less than the log") {
    val sess = spark; import sess.implicits._
    val base = java.nio.file.Files.createTempDirectory("cdc_push").toString + "/log"
    val n = 40000
    (0 until n).map(i => (i.toLong, (i % 97).toLong,
        i.toLong * 1000000000L, "e" + (i % 3), i / 10.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(base)
    val hconf = spark.sessionState.newHadoopConf()

    // a stream's sidecar: the derived log re-written seq-sorted per
    // partition in small row groups. A slice is one seq-range read of
    // its partition's file that skips the groups outside the slice and
    // materializes exactly the slice's rows, with no history pass
    val sidecar = graft.sources.ChangelogSidecar(
      java.nio.file.Files.createTempDirectory("cdc_push_sc").toString + "/log_n1",
      rowGroupRows = 1000)
    assert(sidecar.open(base, numPartitions = 1, deletes = false) == ((n - 1L, n - 1L)))
    val rdr = new graft.sources.SidecarReader(
      graft.sources.SidecarSlice(sidecar.partFile(0), 30000L, 30500L), hconf)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    while (rdr.next()) got += ((rdr.get().getLong(0), rdr.get().getString(2)))
    rdr.close()
    assert(got.map(_._1) == (30001L to 30500L) && got.forall(_._2 == "U"),
      "every key in the slice already appeared earlier -> all U")
    val mat = rdr.currentMetricsValues()
      .find(_.name == graft.sources.RecordsMaterialized.Name).get.value
    assert(mat == 500, s"sidecar slice must materialize only its 500 rows, got $mat")
    val sideFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(sidecar.partFile(0)), hconf)
    val sidePred = org.apache.parquet.filter2.predicate.FilterApi.and(
      org.apache.parquet.filter2.predicate.FilterApi.gt(
        org.apache.parquet.filter2.predicate.FilterApi.longColumn("event_id"), Long.box(30000L)),
      org.apache.parquet.filter2.predicate.FilterApi.ltEq(
        org.apache.parquet.filter2.predicate.FilterApi.longColumn("event_id"), Long.box(30500L)))
    def sideGroups(filtered: Boolean): Int = {
      val opts = org.apache.parquet.ParquetReadOptions.builder()
      if (filtered) opts.withRecordFilter(
        org.apache.parquet.filter2.compat.FilterCompat.get(sidePred))
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(sideFile, opts.build())
      try r.getRowGroups.size finally r.close()
    }
    assert(sideGroups(filtered = false) == n / 1000, "row groups capped at rowGroupRows")
    assert(sideGroups(filtered = true) < sideGroups(filtered = false),
      "the slice's seq predicate must skip sidecar row groups")
  }

  test("streaming replay builds the changelog sidecar under the checkpoint") {
    val cp = java.nio.file.Files.createTempDirectory("cdc_idx_cp").toString
    val q = readCdc(batchSize = 150, snapshotSeq = 299)
      .writeStream.format("memory").queryName("cdc_idx_replay")
      .option("checkpointLocation", cp)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // Spark scopes the source's checkpoint dir under sources/<i>
    val sidecar = new java.io.File(s"$cp/sources/0/sources_graft/log_n4")
    assert(new java.io.File(sidecar, "_HORIZON").exists,
      "the stream must have built its changelog sidecar")
    assert(sidecar.list().filter(_.endsWith(".parquet")).sorted.toSeq ==
      (0 until 4).map(i => s"part=$i.parquet"), "one sidecar file per partition")
    val got = spark.table("cdc_idx_replay")
    assert(got.count() == 1000 && got.select("seq").distinct().count() == 1000)
    // op exactness with sidecar-resolved ops: I = each key's global first seq
    val collected = got.select("key", "seq", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val firstSeqPerKey = collected.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val inserts = collected.filter(_._3 == "I")
    assert(inserts.length == firstSeqPerKey.size)
    assert(inserts.forall { case (k, s, _) => firstSeqPerKey(k) == s })
    // the scan's records-materialized metric: a sidecar slice
    // materializes exactly the batch's rows
    val scans = lastScans(q)
    assert(scans.size == 1)
    val lastRows = q.recentProgress.filter(_.numInputRows > 0).last.numInputRows
    assert(lastRows > 0 &&
      scans.head.metrics(graft.sources.RecordsMaterialized.Name).value == lastRows)
  }

  /** The CDC scan nodes of the last micro-batch a query executed. */
  private def lastScans(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => s
      }

  test("data horizon: event_id footer statistics, or one aggregate when a chunk has none") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val hconf = spark.sessionState.newHadoopConf()
    val fixture = s"$sf0001/events.parquet"
    val want = graft.sources.PgCdcSim.loadChangelog(fixture).map(_.seq).max
    assert(graft.sources.ChangelogFiles.dataHorizon(fixture, hconf) == want)
    // a writer that omits statistics: the horizon must still be exact
    val dir = java.nio.file.Files.createTempDirectory("cdc_nostats").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 user_id; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).withStatisticsEnabled(false).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(5L, 41L, 17L).foreach(s => w.write(groups.newGroup()
      .append("event_id", s).append("user_id", s % 3)))
    finally w.close()
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), hconf))
    try assert(footer.getFooter.getBlocks.get(0).getColumns.get(0).getStatistics.isEmpty,
      "fixture must carry no event_id statistics")
    finally footer.close()
    assert(graft.sources.ChangelogFiles.dataHorizon(dir, hconf) == 41L)
    assert(graft.sources.ChangelogFiles.dataHorizon(s"$dir/absent", hconf) == -1L)
  }

  /** Drains a pg-cdc-sim stream into `rows` (batch id -> its rows);
    * with `failAt`, that batch's sink throws after recording, so the
    * query dies with the batch planned but not committed. */
  private def replayInto(cp: String,
      rows: scala.collection.concurrent.TrieMap[Long, Set[(Long, Long, String)]],
      failAt: Long = -1L): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = readCdc(batchSize = 150, snapshotSeq = 299)
      .writeStream.option("checkpointLocation", cp).trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        rows(id) = df.select("seq", "key", "op").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        if (id == failAt) throw new IllegalStateException(s"injected failure in batch $id")
        ()
      }.start()
    try q.awaitTermination(120000)
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException if failAt >= 0 => }
    q
  }

  private lazy val referenceOps: Set[(Long, Long, String)] =
    graft.sources.PgCdcSim.loadChangelog(s"$sf0001/events.parquet")
      .map(r => (r.seq, r.key, r.op)).toSet

  /** Name -> modification time of each file of a stream's sidecar. */
  private def sidecarFiles(cp: String): Map[String, Long] =
    new java.io.File(s"$cp/sources/0/sources_graft/log_n4").listFiles
      .filterNot(_.getName.startsWith(".")).map(f => f.getName -> f.lastModified).toMap

  test("a restarted stream reuses its changelog sidecar: no build job") {
    val cp = java.nio.file.Files.createTempDirectory("cdc_sc_restart").toString
    val rows = scala.collection.concurrent.TrieMap.empty[Long, Set[(Long, Long, String)]]
    replayInto(cp, rows, failAt = 1L) // snapshot committed, first poll dies
    val built = sidecarFiles(cp)
    assert(built.keySet == (0 until 4).map(i => s"part=$i.parquet").toSet + "_HORIZON")
    replayInto(cp, rows)
    assert(sidecarFiles(cp) == built,
      "the restart must read the sidecar its first run built, not rebuild it")
    assert(rows.size >= 3, s"snapshot + polls expected, got batches ${rows.keys.toSeq.sorted}")
    assert(rows.values.flatten.toSet == referenceOps,
      "crash + restart must replay the reference changelog")
  }

  test("a sidecar without its _HORIZON marker is rebuilt with the same output") {
    val cp = java.nio.file.Files.createTempDirectory("cdc_sc_rebuild").toString
    val rows = scala.collection.concurrent.TrieMap.empty[Long, Set[(Long, Long, String)]]
    replayInto(cp, rows, failAt = 1L)
    val dir = new java.io.File(s"$cp/sources/0/sources_graft/log_n4")
    def contents() = spark.read.parquet(dir.toString).collect().map(_.toSeq).toSet
    val built = contents()
    assert(built.size == 1000)
    // a build torn before its marker: one part file lost, no marker
    assert(new java.io.File(dir, "_HORIZON").delete() &&
      new java.io.File(dir, "part=2.parquet").delete())
    replayInto(cp, rows)
    assert(sidecarFiles(cp).keySet ==
      (0 until 4).map(i => s"part=$i.parquet").toSet + "_HORIZON",
      "a marker-less sidecar must be rebuilt, marker last")
    assert(contents() == built, "the rebuild must write the same sidecar")
    assert(rows.values.flatten.toSet == referenceOps)
  }

  test("a torn _HORIZON marker is rebuilt, not trusted") {
    assert(spark.sparkContext.isLocal) // materialize the shared session first
    val sidecar = graft.sources.ChangelogSidecar(
      java.nio.file.Files.createTempDirectory("cdc_sc_torn").toString + "/log_n4", 100)
    val path = s"$sf0001/events.parquet"
    val horizon = sidecar.open(path, 4, deletes = true)
    val marker = java.nio.file.Paths.get(sidecar.dir, "_HORIZON")
    val lines = java.nio.file.Files.readAllLines(marker)
    assert(lines.size == 4)
    // cut after the identity lines, before the horizons: first with
    // the stale checksum file beside it, then without one
    for (dropCrc <- Seq(false, true)) {
      java.nio.file.Files.write(marker, lines.subList(0, 2))
      if (dropCrc) java.nio.file.Files.delete(marker.resolveSibling("._HORIZON.crc"))
      assert(sidecar.open(path, 4, deletes = true) == horizon)
      assert(java.nio.file.Files.readAllLines(marker) == lines, "the rebuild rewrites the marker")
    }
  }

  test("the source reports its horizon and backlog in query progress, across a restart") {
    import scala.jdk.CollectionConverters._
    val cp = java.nio.file.Files.createTempDirectory("cdc_backlog").toString
    val rows = scala.collection.concurrent.TrieMap.empty[Long, Set[(Long, Long, String)]]
    def reported(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.recentProgress.filter(_.numInputRows > 0).map { p =>
        val m = p.sources(0).metrics.asScala
        (m("horizonSeq").toLong, m("backlogSeqs").toLong)
      }.toSeq
    // the snapshot (seqs 0..299) commits, the first poll dies
    assert(reported(replayInto(cp, rows, failAt = 1L)) == Seq((999L, 700L)))
    // the restart replays the failed poll from the offset log, then
    // drains the log 150 seqs a poll
    assert(reported(replayInto(cp, rows)) ==
      (550L to 0L by -150L).map(999L -> _) :+ (999L -> 0L))
  }

  test("a stream's reader factory carries no Hadoop conf: it ships by broadcast, once per stream") {
    assert(spark.sparkContext.isLocal) // materialize the shared session first
    val stream = new graft.sources.PgCdcSimMicroBatchStream(s"$sf0001/events.parquet",
      batchSize = 200L, snapshotSeqOpt = 499L, numPartitions = 4, deletes = false,
      checkpointLocation = java.nio.file.Files.createTempDirectory("cdc_ser").toString)
    try {
      val factory = stream.createReaderFactory()
      // serialized the way a task binary carries it
      val buf = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(buf)
      out.writeObject(factory)
      out.close()
      val bytes = buf.toByteArray
      assert(bytes.length < 4096, s"reader factory serializes to ${bytes.length} bytes")
      val text = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      assert(!text.contains("org.apache.hadoop.conf.Configuration"),
        "the factory must carry the broadcast's handle, not the conf")
      def confId(f: org.apache.spark.sql.connector.read.PartitionReaderFactory) =
        f.asInstanceOf[graft.sources.ChangelogReaderFactory].conf.id
      assert(confId(stream.createReaderFactory()) == confId(factory),
        "every batch of a stream reads on the one broadcast")
    } finally stream.stop()
  }

  test("a stream's conf broadcast is destroyed when the stream stops") {
    import org.apache.spark.storage.BlockId
    val bm = org.apache.spark.SparkEnv.get.blockManager
    def broadcastBlocks() = bm.getMatchingBlockIds(_.isBroadcast).toSet
    def blocksOf(id: Long) = broadcastBlocks().collect {
      case b: org.apache.spark.storage.BroadcastBlockId if b.broadcastId == id => b: BlockId
    }
    val before = broadcastBlocks()
    val q = readCdc(batchSize = 200, snapshotSeq = 499)
      .writeStream.format("memory").queryName("cdc_bcast")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdc_bcast_cp").toString)
      .outputMode("append").start()
    val confId = try {
      q.processAllAvailable()
      assert(spark.table("cdc_bcast").count() == 1000)
      val id = lastScans(q).head.readerFactory
        .asInstanceOf[graft.sources.ChangelogReaderFactory].conf.id
      assert(blocksOf(id).nonEmpty && !before.exists(blocksOf(id)),
        "the stream's conf is a broadcast of its own, live while the stream runs")
      id
    } finally q.stop()
    // destroy() removes the blocks asynchronously, but without a GC the
    // ContextCleaner never can: the stopped query still holds the source
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    eventually(timeout(10.seconds)) {
      val left = blocksOf(confId)
      assert(left.isEmpty, s"conf broadcast blocks left after stop: $left")
    }
  }

  test("sinkScd2: CDC stream -> version history == batch lead-over-seq; restart no-op; deletes close validity") {
    import graft.api.StreamzOps._
    val base = java.nio.file.Files.createTempDirectory("sink_scd2").toString
    val table = s"$base/state"
    def run() = {
      val q = readCdc(batchSize = 300, snapshotSeq = 99)
        .sinkScd2(table, Seq("key"), "seq", s"$base/cp")
      q.awaitTermination(120000)
    }
    run()
    def history() = graft.api.StreamzOps.readScd2Table(spark, table).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("seq"),
        Option(r.getAs[java.lang.Long]("valid_to_ord")).map(_.longValue),
        r.getAs[Int]("is_current"))).toSet
    // batch truth: lead(seq) per key over the full changelog
    val bySeq = spark.read.format("pg-cdc-sim")
      .option("path", s"$sf0001/events.parquet").load()
      .select("key", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val want = bySeq.toSeq.flatMap { case (k, seqs) =>
      seqs.zipWithIndex.map { case (s, i) =>
        val next = if (i + 1 < seqs.length) Some(seqs(i + 1)) else None
        (k, s, next, if (next.isEmpty) 1 else 0)
      }
    }.toSet
    assert(history() == want, "streamed SCD2 history must equal the batch fold")
    run() // restart from the same checkpoint: fully caught up -> no change
    assert(history() == want, "restart must be a no-op")

    // with tombstones: the deleted key's last version is CLOSED at the
    // tombstone seq, and no version of it is current
    val q2 = spark.readStream.format("pg-cdc-sim")
      .option("path", s"$sf0001/events.parquet")
      .option("batchSize", "300").option("snapshotSeq", "99")
      .option("numPartitions", "4").option("deletes", "true").load()
      .sinkScd2(s"$base/state_del", Seq("key"), "seq", s"$base/cp_del",
        opCol = Some("op"))
    q2.awaitTermination(120000)
    val hist = graft.api.StreamzOps
      .readScd2Table(spark, s"$base/state_del", opCol = Some("op")).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("seq"),
        Option(r.getAs[java.lang.Long]("valid_to_ord")).map(_.longValue),
        r.getAs[Int]("is_current")))
    assert(!hist.exists(_._2 > 999), "op=D marker rows must not surface by default")
    val deleted = hist.filter(_._1 % 10 == 7)
    assert(deleted.nonEmpty && deleted.forall(_._4 == 0),
      "no version of a tombstoned key may be current")
    deleted.groupBy(_._1).foreach { case (k, vs) =>
      val last = vs.maxBy(_._2)
      assert(last._3.exists(_ > 999),
        s"key $k's final version must be closed at its tombstone seq (got ${last._3})")
    }
    val alive = hist.filter(_._1 % 10 != 7)
    assert(alive.groupBy(_._1).forall { case (_, vs) => vs.count(_._4 == 1) == 1 },
      "every live key keeps exactly one current version")
  }

  test("compactTable: buckets collapse to one file each; snapshot identical; manifest advances") {
    import graft.api.StreamzOps._
    val base = java.nio.file.Files.createTempDirectory("upsert_compact").toString
    val table = s"$base/state"
    def rows(ks: Seq[Long], seqOffset: Long) =
      spark.range(ks.head, ks.last + 1).select(col("id").as("key"),
        (col("id") + seqOffset).as("seq"), (col("id") * 2.0).as("value"))
    // fragmentation: a second commit over a subset of the keys moves
    // its buckets to data/m2, and the rest stay in data/m1 beside the
    // superseded rows of the moved buckets. Coalescing off keeps one
    // write task per shuffle partition, so data/m1 holds several files
    // (on this tiny fixture AQE folds the write into one task)
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      upsertBatch(rows(1L to 64L, 0L), table, Seq("key"), "seq", 0L, numBuckets = 8)
      upsertBatch(rows(1L to 4L, 1000L), table, Seq("key"), "seq", 1L, numBuckets = 8)
    }
    val entries = manifestEntries(s"$table/manifest/m2")
    assert(entries.values.toSet == Set("data/m1", "data/m2"),
      s"fixture must leave buckets in both commit dirs: $entries")
    def state() = readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$table/data"))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    def storedRows() = spark.read.parquet(dataFiles().map(_.getPath): _*).count()
    val before = state()
    assert(before == (1L to 64L).map(k => k -> (if (k <= 4) k + 1000L else k)).toMap)
    val nFilesBefore = dataFiles().size
    // the files a bucket's read opens: every file of the dir it maps to
    val opensBefore = dataFiles().groupBy(_.getParentFile.getName).values.map(_.size).max
    assert(opensBefore > 1, s"fixture must fragment: $opensBefore files per bucket read")
    assert(storedRows() > before.size, "data/m1 keeps the superseded rows until compaction")
    val reported = graft.api.StreamzOps.compactTable(spark, table)
    assert(reported == nFilesBefore, s"reported $reported != counted $nFilesBefore")
    val after = dataFiles()
    // exactly one file per surviving bucket dir, the only dirs left
    val perDir = after.groupBy(_.getParentFile.getName)
    assert(perDir.keySet.forall(_.startsWith("_bp=")) && perDir.values.forall(_.size == 1),
      s"one file per bucket after compaction: ${perDir.view.mapValues(_.size).toMap}")
    assert(storedRows() == before.size, "compaction must drop the superseded rows")
    assert(new java.io.File(s"$table/manifest/m3").exists, "compaction commits manifest m3")
    assert(state() == before, "compaction must not change the snapshot")
  }

  test("a commit dir shared by buckets never leaks superseded rows: read, time travel, compaction") {
    import graft.api.StreamzOps._
    val sess = spark
    import sess.implicits._
    // commit 1 writes every bucket; commit 2 updates keys 1 and 2 and
    // deletes key 3, moving their buckets to data/m2 while data/m1
    // keeps the superseded rows of those buckets
    val commits: Seq[Seq[(Long, Long, String)]] = Seq((1L to 40L).map(k => (k, k, "I")),
      Seq((1L, 101L, "U"), (2L, 102L, "U"), (3L, 103L, "D")))
    def changes(upTo: Int) = commits.take(upTo).flatten
    // expected folds, as rows of the sink's read
    def latest(upTo: Int): Set[Seq[Any]] = changes(upTo).groupBy(_._1).values
      .map(_.maxBy(_._2)).filter(_._3 != "D").map(c => Seq[Any](c._1, c._2)).toSet
    def history(upTo: Int): Set[Seq[Any]] = changes(upTo).groupBy(_._1).values.flatMap { vs =>
      val ordered = vs.sortBy(_._2)
      ordered.zip(ordered.drop(1).map(v => Some(v._2)) :+ None).collect {
        case (v, next) if v._3 != "D" =>
          Seq[Any](v._1, v._2, next.map(Long.box).orNull, if (next.isEmpty) 1 else 0)
      }
    }.toSet
    // the aggregate sink folds (group, dn, dv) deltas instead
    val deltas: Seq[Seq[(String, Long, Long)]] = Seq((1L to 40L).map(k => (s"g$k", 1L, k)),
      Seq(("g1", 1L, 5L), ("g2", 0L, 7L), ("g3", -1L, -3L)))
    def totals(upTo: Int): Set[Seq[Any]] = deltas.take(upTo).flatten.groupBy(_._1)
      .map { case (g, ds) => Seq[Any](g, ds.map(_._2).sum, ds.map(_._3).sum) }
      .filter(_(1) != 0L).toSet
    def rowSet(df: DataFrame, cols: String*): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val sinks: Seq[(String, (String, Int) => Unit, (String, Option[Long]) => Set[Seq[Any]],
        Int => Set[Seq[Any]])] = Seq(
      ("upsertBatch",
        (t, i) => upsertBatch(commits(i).toDF("key", "seq", "op"), t, Seq("key"), "seq",
          i.toLong, opCol = Some("op"), numBuckets = 8, retainManifests = 1),
        (t, snap) => rowSet(readUpsertTable(spark, t, snap), "key", "seq"),
        latest),
      ("scd2Batch",
        (t, i) => scd2Batch(commits(i).toDF("key", "seq", "op"), t, Seq("key"), "seq",
          i.toLong, opCol = Some("op"), numBuckets = 8, retainManifests = 1),
        (t, snap) => rowSet(readScd2Table(spark, t, opCol = Some("op"), snapshot = snap),
          "key", "seq", "valid_to_ord", "is_current"),
        history),
      ("aggMaintainBatch",
        (t, i) => aggMaintainBatch(deltas(i).toDF("grp", "dn", "dv"), t, Seq("grp"),
          i.toLong, numBuckets = 8, retainManifests = 1),
        (t, snap) => rowSet(readAggTable(spark, t, snap), "grp", "dn", "dv"),
        totals))
    // every sink runs every check; the mismatches are reported together
    val mismatches = sinks.flatMap { case (name, commit, read, fold) =>
      val table = java.nio.file.Files.createTempDirectory(s"shared_dir_$name").toString + "/state"
      commit(table, 0)
      commit(table, 1)
      assert(manifestEntries(s"$table/manifest/m2").values.toSet == Set("data/m1", "data/m2"),
        s"$name: commit 2 must leave buckets in both commit dirs")
      val afterCommit = read(table, None)
      val timeTravel = read(table, Some(1L))
      compactTable(spark, table)
      Seq(("read after commit 2", afterCommit, fold(2)),
        ("time travel to commit 1", timeTravel, fold(1)),
        ("read after compaction", read(table, None), fold(2)))
        .collect { case (check, got, want) if got != want =>
          s"$name, $check: extra ${got diff want}, missing ${want diff got}" }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("an old-layout table (_bp dirs, no schema line) reads and takes new commits; unknown manifest headers parse") {
    import graft.api.StreamzOps._
    val sess = spark
    import sess.implicits._
    val table = java.nio.file.Files.createTempDirectory("old_layout").toString + "/state"
    def state() = readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    def writeManifest(n: Int, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$table/manifest/m$n"),
        lines.mkString("\n").getBytes("UTF-8"))
    // the earlier layout: one data/m1/_bp=<K>/ dir per bucket (the rows
    // keep _gb_bucket, the dir name carries _bp), and a manifest with
    // only the numBuckets header
    (1L to 40L).map(k => (k, k, k * 1.0)).toDF("key", "seq", "value")
      .withColumn("_gb_bucket", pmod(hash(col("key")), lit(8)))
      .withColumn("_bp", col("_gb_bucket"))
      .write.partitionBy("_bp").parquet(s"$table/data/m1")
    val buckets = new java.io.File(s"$table/data/m1").listFiles.map(_.getName)
      .filter(_.startsWith("_bp=")).map(_.stripPrefix("_bp=").toInt).sorted.toSeq
    new java.io.File(s"$table/manifest").mkdirs()
    writeManifest(1, "numBuckets=8" +: buckets.map(b => s"$b\tdata/m1/_bp=$b"))
    var want = (1L to 40L).map(k => k -> k).toMap
    assert(state() == want, "an old-layout table reads through its manifest")
    upsertBatch(Seq((1L, 101L, 9.9), (2L, 102L, 8.8)).toDF("key", "seq", "value"),
      table, Seq("key"), "seq", 1L, numBuckets = 8)
    want ++= Map(1L -> 101L, 2L -> 102L)
    assert(state() == want, "a new commit on an old-layout table folds")
    val m2 = manifestEntries(s"$table/manifest/m2")
    assert(m2.values.exists(_.startsWith("data/m1/_bp=")) && m2.values.exists(_ == "data/m2"),
      s"clean buckets keep their old-layout entries: $m2")
    // a header line this reader does not know is skipped
    val lines = scala.io.Source.fromFile(s"$table/manifest/m2").getLines().toVector
    writeManifest(3, lines.head +: "rows_written=2" +: lines.tail)
    assert(state() == want, "a manifest with an unknown header line parses")
    upsertBatch(Seq((3L, 103L, 7.7)).toDF("key", "seq", "value"),
      table, Seq("key"), "seq", 2L, numBuckets = 8)
    want += 3L -> 103L
    assert(state() == want, "a commit on top of a manifest with an unknown header folds")
  }

  test("a recorded non-nullable schema reads back nullable, and a later null folds") {
    import graft.api.StreamzOps._
    import org.apache.spark.sql.types.{DataType, StructType}
    val sess = spark
    import sess.implicits._
    val table = java.nio.file.Files.createTempDirectory("nonnull_schema").toString + "/state"
    // spark.range's id and a literal are non-nullable columns
    upsertBatch(spark.range(1, 9).select(col("id").as("key"), col("id").as("seq"),
      lit(1.0).as("value")), table, Seq("key"), "seq", 0L, numBuckets = 4)
    val recorded = scala.io.Source.fromFile(s"$table/manifest/m1").getLines()
      .collectFirst { case l if l.startsWith("schema=") =>
        DataType.fromJson(l.stripPrefix("schema=")).asInstanceOf[StructType] }
    assert(recorded.exists(s => !s("key").nullable && !s("value").nullable),
      s"fixture must record a non-nullable schema: $recorded")
    // the file source reads a supplied schema as nullable, as inference would
    assert(readUpsertTable(spark, table).schema.forall(_.nullable))
    upsertBatch(Seq((1L, 101L, Option.empty[Double])).toDF("key", "seq", "value"),
      table, Seq("key"), "seq", 1L, numBuckets = 4)
    val got = readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> Option(r.getAs[java.lang.Double]("value"))).toMap
    assert(got == (1L to 8L).map(k => k -> (if (k == 1) None else Some(1.0: java.lang.Double))).toMap)
  }

  test("compactTable + zorderBy: OPTIMIZE ZORDER — row groups skip on both dims; snapshot identical") {
    import graft.api.StreamzOps._
    import scala.jdk.CollectionConverters._
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val base = java.nio.file.Files.createTempDirectory("upsert_zorder").toString
    val table = s"$base/state"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, String)]
    val q = ms.toDF().toDF("key", "seq", "lang", "source")
      .sinkUpsert(table, Seq("key"), "seq", s"$base/cp", numBuckets = 2,
        trigger = Trigger.ProcessingTime(0))
    try {
      // interleaved dims: neither bucket hash nor arrival order
      // correlates with (lang, source), so unordered files have
      // full-range stats on both
      ms.addData((1L to 16000L).map(k =>
        (k, k, s"l${k % 8}", s"src${(k / 8) % 16}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    def state() = readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[String]("source")).toMap
    val before = state()
    // (overlapping, total) row groups whose min/max stats admit the
    // predicates — what any stats-based reader must read
    def overlaps(preds: Map[String, String]): (Int, Int) = {
      val fs = new java.io.File(s"$table/data")
      val latest = fs.listFiles.filter(_.getName.matches("m\\d+"))
        .maxBy(_.getName.stripPrefix("m").toInt)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      val files = walk(latest).filter(_.getName.endsWith(".parquet"))
      val conf = spark.sessionState.newHadoopConf()
      var total = 0; var hit = 0
      files.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try r.getRowGroups.asScala.foreach { rg =>
          total += 1
          val ok = preds.forall { case (c, v) =>
            val st = rg.getColumns.asScala.find(_.getPath.toDotString == c).get.getStatistics
            val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
            val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
            mn <= v && v <= mx
          }
          if (ok) hit += 1
        } finally r.close()
      }
      (hit, total)
    }
    // small row groups so skipping is visible INSIDE each bucket's
    // single compacted file (the base hadoop conf feeds every write)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.block.size", "32768")
    hc.set("parquet.page.size", "8192")
    try {
      val preds = Map("lang" -> "l3", "source" -> "src5")
      graft.api.StreamzOps.compactTable(spark, table)
      val (plainHit, plainTotal) = overlaps(preds)
      graft.api.StreamzOps.compactTable(spark, table, zorderBy = Seq("lang", "source"))
      val (zHit, zTotal) = overlaps(preds)
      assert(plainTotal > 2 && zTotal > 2,
        s"need multiple row groups per bucket to see skipping ($plainTotal, $zTotal)")
      assert(zHit < plainHit,
        s"z-ordered compaction must overlap fewer row groups ($zHit/$zTotal) " +
          s"than plain compaction ($plainHit/$plainTotal)")
    } finally {
      hc.unset("parquet.block.size")
      hc.unset("parquet.page.size")
    }
    assert(state() == before, "z-ordered compaction must not change the snapshot")
    // still one file per surviving bucket dir (the OPTIMIZE contract)
    val latest = new java.io.File(s"$table/data").listFiles
      .filter(_.getName.matches("m\\d+")).maxBy(_.getName.stripPrefix("m").toInt)
    val perDir = latest.listFiles.filter(_.getName.startsWith("_bp="))
      .map(_.listFiles.count(f => f.getName.endsWith(".parquet")))
    assert(perDir.nonEmpty && perDir.forall(_ == 1),
      s"one file per bucket after z compaction: ${perDir.toSeq}")
  }

  test("compactIfNeeded: fires only past the per-bucket file threshold; no-op otherwise") {
    import graft.api.StreamzOps._
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val base = java.nio.file.Files.createTempDirectory("upsert_auto").toString
    val table = s"$base/state"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val q = ms.toDF().toDF("key", "seq", "value")
      .sinkUpsert(table, Seq("key"), "seq", s"$base/cp", numBuckets = 3,
        trigger = Trigger.ProcessingTime(0))
    try {
      ms.addData((1L to 64L).map(k => (k, k, k * 1.0)): _*)
      q.processAllAvailable()
      ms.addData((1L to 64L).map(k => (k, k + 1000L, k * 2.0)): _*)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    def manifests() = new java.io.File(s"$table/manifest").listFiles
      .map(_.getName).filter(_.matches("m\\d+"))
      .map(_.stripPrefix("m").toLong).sorted.toSeq
    def state() = readUpsertTable(spark, table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    val before = state()
    val m0 = manifests()
    // generous threshold: fragmentation below it -> metadata-only no-op
    assert(!graft.api.StreamzOps.compactIfNeeded(spark, table, maxFilesPerBucket = 1000))
    assert(manifests() == m0, "a no-op check must not commit a manifest")
    // tight threshold: fires, collapses to one file per bucket
    assert(graft.api.StreamzOps.compactIfNeeded(spark, table, maxFilesPerBucket = 1))
    val m1 = manifests()
    assert(m1.max == m0.max + 1, "a fired compaction commits exactly one manifest")
    assert(state() == before, "auto-compaction must not change the snapshot")
    // now AT the threshold (1 file/bucket == maxFilesPerBucket): settles
    assert(!graft.api.StreamzOps.compactIfNeeded(spark, table, maxFilesPerBucket = 1))
    assert(manifests() == m1)
  }

  test("sinkUpsert retention: reader inside the publish window sees only committed snapshots; time travel") {
    import graft.api.StreamzOps._
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val base = java.nio.file.Files.createTempDirectory("upsert_retain").toString
    val table = s"$base/state"
    def tableState(snapshot: Option[Long] = None) =
      graft.api.StreamzOps.readUpsertTable(spark, table, snapshot).collect()
        .map(r => r.getAs[Long]("key") -> r.getAs[Long]("seq")).toMap
    // a "concurrent" reader placed at each publish barrier of batch 1
    // (the m2 commit) via the failpoint hook
    val observed = scala.collection.concurrent.TrieMap.empty[String, Map[Long, Long]]
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double)]
    val q = ms.toDF().toDF("key", "seq", "value")
      .sinkUpsert(table, Seq("key"), "seq", s"$base/cp", numBuckets = 8,
        retainManifests = 1, trigger = Trigger.ProcessingTime(0),
        failpoint = (stage, batchId) =>
          if (batchId == 1L) observed(stage) = tableState())
    val m1 = (1L to 40L).map(k => k -> k).toMap
    try {
      ms.addData((1L to 40L).map(k => (k, k, k * 1.0)): _*) // -> m1
      q.processAllAvailable()
      ms.addData((1L, 1000L, 9.9)) // -> m2
      q.processAllAvailable()
      ms.addData((2L, 2000L, 8.8)) // -> m3 (m1 now beyond retain=1)
      q.processAllAvailable()
    } finally q.stop()
    // the publish window of m2: both pre-rename barriers still read
    // the COMPLETE m1 snapshot; the post-commit barrier reads m2
    assert(observed("data-written") == m1, "mid-write reader must see m1")
    assert(observed("pre-commit") == m1, "pre-rename reader must see m1")
    assert(observed("post-commit") == m1 + (1L -> 1000L))
    // time travel: m2 retained after the m3 commit and fully readable
    assert(tableState() == m1 + (1L -> 1000L) + (2L -> 2000L))
    assert(tableState(Some(2L)) == m1 + (1L -> 1000L))
    // m1 fell out of the retention window
    intercept[IllegalStateException](tableState(Some(1L)))
  }

  test("stream-static enrichment: CDC stream x broadcast dimension == batch join") {
    val sess = spark; import sess.implicits._
    // dimension: event_type -> category (static, broadcast-sized)
    val dim = Tables.events(spark, sf0001).select("event_type").distinct()
      .collect().map(_.getString(0)).sorted.zipWithIndex
      .map { case (t, i) => (t, s"cat${i % 2}") }.toSeq.toDF("event_type", "category")
    val q = readCdc(batchSize = 400, snapshotSeq = 499)
      .join(broadcast(dim), "event_type")
      .groupBy("category").count()
      .writeStream.format("memory").queryName("cdc_enriched")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("cdc_enriched").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.format("pg-cdc-sim")
      .option("path", s"$sf0001/events.parquet").load()
      .join(dim, "event_type").groupBy("category").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.values.sum == 1000,
      s"stream-static enrichment must equal the batch join: $got vs $want")
  }

  test("file-source formats (§2A sources row): json, csv and text all stream == batch") {
    val sess = spark; import sess.implicits._
    val base = java.nio.file.Files.createTempDirectory("fmt_src").toString
    val df = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("n_chars")).limit(100)
    df.coalesce(1).write.json(s"$base/json")
    df.coalesce(1).write.option("header", "true").csv(s"$base/csv")
    df.select(concat_ws("|", col("doc_id"), col("lang")).as("value"))
      .coalesce(1).write.text(s"$base/text")
    def drain(dfS: org.apache.spark.sql.DataFrame, name: String) = {
      val q = dfS.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000)); spark.table(name)
    }
    val sch = spark.read.json(s"$base/json").schema
    assert(drain(spark.readStream.schema(sch).json(s"$base/json"), "fmt_json")
      .count() == 100)
    val csch = spark.read.option("header", "true").csv(s"$base/csv").schema
    assert(drain(spark.readStream.schema(csch).option("header", "true")
      .csv(s"$base/csv"), "fmt_csv").count() == 100)
    val txt = drain(spark.readStream.text(s"$base/text"), "fmt_text")
    assert(txt.count() == 100 &&
      txt.filter(col("value").contains("|")).count() == 100)
  }

  test("rate control API: cdcSource pollQuantum bounds every post-snapshot micro-batch") {
    val q = graft.api.StreamzOps
      .cdcSource(spark, s"$sf0001/events.parquet",
        pollQuantum = 120, snapshotSeq = 99)
      .writeStream.format("memory").queryName("rate_api")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("rate_api").count() == 1000, "whole changelog delivered")
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.length > 2, s"rate limit must force multiple polls: ${sizes.mkString(",")}")
    // first admitted batch is the snapshot (seqs 0..99); all later
    // polls are bounded by the quantum
    assert(sizes.tail.forall(_ <= 120),
      s"post-snapshot polls exceed the quantum: ${sizes.mkString(",")}")
  }

  test("batchSize <= 0 is rejected (would stall AvailableNow forever)") {
    val ex = intercept[Exception] {
      spark.read.format("pg-cdc-sim")
        .option("path", s"$sf0001/events.parquet")
        .option("batchSize", "0").load().count()
    }
    assert(ex.getMessage.contains("batchSize"))
  }

  test("empty changelog: default snapshotSeq clamps, AvailableNow terminates with 0 rows") {
    // empty parquet with the events schema → maxSeq = -1; the default
    // snapshot offset (maxSeq/2 == 0 in Scala for -1) must clamp to -1
    // or latestOffset oscillates 0 → -1 → 0 forever
    val empty = java.nio.file.Files.createTempDirectory("cdc_empty").toString
    spark.read.parquet(s"$sf0001/events.parquet").limit(0)
      .write.mode("overwrite").parquet(empty)
    val out = java.nio.file.Files.createTempDirectory("cdc_empty_out").toString
    val q = spark.readStream.format("pg-cdc-sim")
      .option("path", empty).load()
      .writeStream.format("memory").queryName("cdc_empty")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow must terminate on an empty changelog")
    assert(spark.table("cdc_empty").count() == 0)
  }
}
