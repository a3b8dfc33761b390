package graft

import org.apache.spark.sql.functions._
import graft.api.StreamzOps
import graft.api.StreamzOps._

/** Known-answer tests for the streamz-vocabulary facade (SURVEY.md
  * §2A mapping) — each op against a tiny hand-computed input.
  */
class StreamzOpsSuite extends GraftSuite {
  import java.sql.Timestamp

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("map / filter / pluck") {
    val sess = spark; import sess.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("n", "s")
    assert(df.mapRows(($"n" * 2).as("d")).collect().map(_.getInt(0)).toSeq == Seq(2, 4, 6))
    assert(df.filterRows($"n" > 1).count() == 2)
    assert(df.pluck("s").columns.toSeq == Seq("s"))
  }

  test("accumulate: running fold in order") {
    val sess = spark; import sess.implicits._
    val got = Seq((1, 10), (2, 20), (3, 30)).toDF("i", "v")
      .accumulate(sum($"v"), Seq($"i"))
      .orderBy("i").collect().map(_.getAs[Long]("acc")).toSeq
    assert(got == Seq(10L, 30L, 60L))
  }

  test("sliding_window: last-n aggregate") {
    val sess = spark; import sess.implicits._
    val got = Seq((1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)).toDF("i", "v")
      .slidingWindow(2, sum($"v"), Seq($"i"))
      .orderBy("i").collect().map(_.getAs[Double]("win")).toSeq
    assert(got == Seq(1.0, 3.0, 5.0, 7.0))
  }

  test("timed_window: tumbling event-time buckets") {
    val sess = spark; import sess.implicits._
    val got = Seq((ts("2024-01-01 00:05:00"), 1), (ts("2024-01-01 00:55:00"), 2),
        (ts("2024-01-01 01:05:00"), 3))
      .toDF("t", "v")
      .timedWindow($"t", "1 hour", sum($"v").as("sv"))
      .orderBy("window_start").collect().map(_.getAs[Long]("sv")).toSeq
    assert(got == Seq(3L, 3L))
  }

  test("partition: chunks of n") {
    val sess = spark; import sess.implicits._
    val got = (1 to 5).map(i => Tuple1(i)).toDF("i")
      .partitionChunks(2, Seq($"i"))
      .orderBy("i").collect().map(_.getAs[Long]("chunk")).toSeq
    assert(got == Seq(0L, 0L, 1L, 1L, 2L))
  }

  test("zip: aligns i-th elements of two frames") {
    val sess = spark; import sess.implicits._
    val l = Seq((1, "x"), (2, "y")).toDF("i", "s")
    val r = Seq((10, 100.0), (20, 200.0)).toDF("j", "v")
    val got = l.zipWith(r, Seq($"i"), Seq($"j"))
      .orderBy("i").collect().map(x => (x.getAs[String]("s"), x.getAs[Double]("v"))).toSeq
    assert(got == Seq(("x", 100.0), ("y", 200.0)))
  }

  test("combine_latest: as-of pairing per key") {
    val sess = spark; import sess.implicits._
    val left = Seq((1L, ts("2024-01-01 02:00:00")), (1L, ts("2024-01-01 04:00:00")))
      .toDF("k", "lt")
    val right = Seq((1L, ts("2024-01-01 01:00:00"), "old"),
        (1L, ts("2024-01-01 03:00:00"), "new")).toDF("rk", "rt", "tag")
    val got = left.combineLatest(right, ($"k", $"rk"), ($"lt", $"rt"), $"rt")
      .orderBy("lt").collect().map(_.getAs[String]("tag")).toSeq
    assert(got == Seq("old", "new"))
  }

  test("unique: first occurrence per key, deterministically") {
    val sess = spark; import sess.implicits._
    val got = Seq((1, 10, "first"), (1, 20, "later"), (2, 5, "only"))
      .toDF("k", "seq", "tag")
      .uniqueBy(Seq($"k"), Seq($"seq"))
      .orderBy("k").collect().map(_.getAs[String]("tag")).toSeq
    assert(got == Seq("first", "only"))
  }

  test("flatten + collect round-trip") {
    val sess = spark; import sess.implicits._
    val flat = Seq((1, Seq("a", "b")), (2, Seq("c"))).toDF("k", "xs")
      .flattenCol($"xs", as = "x")
    assert(flat.count() == 3)
    val lists = flat.collectAll(Seq($"k"), $"x", $"x")
      .orderBy("k").collect()
      .map(r => r.getSeq[String](r.fieldIndex("collected")).toList).toSeq
    assert(lists == Seq(List("a", "b"), List("c")))
  }

  test("sink: terminal parquet write") {
    val sess = spark; import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sink_t").toString + "/out"
    Seq((1, "a")).toDF("i", "s").sinkToParquet(dir)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("accumulateStream: streaming per-key running fold across micro-batches == batch accumulate") {
    withRocksDb {
      val sess = spark; import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val cp = java.nio.file.Files.createTempDirectory("acc_cp").toString
      // memory sink cannot recover from a checkpoint — collect appended
      // rows through foreachBatch instead (the recoverable sink shape)
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
      def start() = graft.api.StreamzStateOps
        .accumulateStream(ms.toDF().toDF("k", "seq", "v"), "k", "seq", "v")
        .writeStream
        .option("checkpointLocation", cp)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            emitted.add((r.getLong(0), r.getLong(1), r.getDouble(3))))
          ()
        }.start()
      // two micro-batches; k=1 spans both (state must carry across),
      // in-batch rows deliberately out of seq order (must sort)
      val q1 = start()
      ms.addData((1L, 2L, 10.0), (1L, 1L, 1.0), (2L, 1L, 5.0))
      q1.processAllAvailable()
      q1.stop() // the ValueState must rehydrate from the checkpoint
      val q2 = start()
      ms.addData((1L, 3L, 100.0), (2L, 2L, 7.0))
      q2.processAllAvailable()
      q2.stop()
      val got = emitted.toArray(Array.empty[(Long, Long, Double)])
        .sortBy(t => (t._1, t._2)).toSeq
      val batch = Seq((1L, 1L, 1.0), (1L, 2L, 10.0), (1L, 3L, 100.0),
          (2L, 1L, 5.0), (2L, 2L, 7.0))
        .toDF("k", "seq", "v")
        .accumulate(sum($"v"), Seq($"seq"), Seq($"k"))
        .orderBy("k", "seq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
      assert(got == batch, s"stream fold must equal batch fold:\n$got\n$batch")
    }
  }

  test("slidingWindowStream: last-n ring across micro-batches == batch slidingWindow") {
    withRocksDb {
      val sess = spark; import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val cp = java.nio.file.Files.createTempDirectory("ring_cp").toString
      val emitted =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Seq[Double], Double)]()
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
      def start() = graft.api.StreamzStateOps
        .slidingWindowStream(ms.toDF().toDF("k", "seq", "v"), 3, "k", "seq", "v")
        .select($"key", $"ord", $"win",
          expr("aggregate(win, CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("wsum"))
        .writeStream
        .option("checkpointLocation", cp)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.add(
            (r.getLong(0), r.getLong(1), r.getSeq[Double](2), r.getDouble(3))))
          ()
        }.start()
      val q1 = start()
      ms.addData((1L, 2L, 2.0), (1L, 1L, 1.0), (2L, 1L, 5.0)) // in-batch out of order
      q1.processAllAvailable()
      q1.stop() // the ring must rehydrate from the ListState slot
      val q2 = start()
      ms.addData((1L, 3L, 4.0), (1L, 4L, 8.0), (2L, 2L, 7.0)) // ring evicts 1.0 at seq 4
      q2.processAllAvailable()
      q2.stop()
      val got = emitted.toArray(Array.empty[(Long, Long, Seq[Double], Double)])
        .sortBy(t => (t._1, t._2)).toSeq
      val batch = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 4.0),
          (1L, 4L, 8.0), (2L, 1L, 5.0), (2L, 2L, 7.0))
        .toDF("k", "seq", "v")
        .slidingWindow(3, sum($"v"), Seq($"seq"), Seq($"k"), as = "wsum")
        .slidingWindow(3, collect_list($"v"), Seq($"seq"), Seq($"k"), as = "ring")
        .orderBy("k", "seq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](4), r.getDouble(3))).toSeq
      assert(got == batch, s"stream ring must equal batch window:\n$got\n$batch")
      val seq4 = got.find(t => t._1 == 1L && t._2 == 4L).get
      assert(seq4._3 == Seq(2.0, 4.0, 8.0), "seq 4 ring must have evicted the first value")
      assert(seq4._4 == 14.0, "seq 4 window = 2+4+8 after evicting 1")
    }
  }

  test("streaming seq packing: accumulateStream token fold reproduces batch q_seq_packing exactly") {
    withRocksDb {
      // #98's pack assignment is a running token sum — so the STREAMING
      // path needs no new operator: accumulateStream keyed by
      // (lang, shard) folds tokens in ord order, and pack_id =
      // floor((acc - value) / budget) per emitted row. Prove the
      // streamed assignment aggregates to the batch query's packs.
      val sess = spark; import sess.implicits._
      implicit val sqlCtx = sess.sqlContext
      val docs = Tables.documents(spark, SparkTestBase.sf0001)
        .select(col("doc_id"), col("lang"),
          floor(col("doc_id") / lit(2000.0)).cast("long").as("shard"),
          size(split(col("text"), " ")).cast("double").as("n_tokens"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val langs = docs.map(_._2).distinct.sorted
      val lidx = langs.zipWithIndex.toMap
      val keyOf = (d: (Long, String, Long, Double)) => lidx(d._2) * 100000L + d._3
      // two micro-batches split on ord, honoring the cross-batch
      // per-key ordering contract (ord non-decreasing per key)
      val (c1, c2) = docs.partition(_._1 < 250)
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
      val q = graft.api.StreamzStateOps
        .accumulateStream(ms.toDF().toDF("k", "seq", "v"), "k", "seq", "v")
        .writeStream.format("memory").queryName("pack_stream")
        .outputMode("append").start()
      ms.addData(c1.map(d => (keyOf(d), d._1, d._4)).toSeq: _*)
      q.processAllAvailable()
      ms.addData(c2.map(d => (keyOf(d), d._1, d._4)).toSeq: _*)
      q.processAllAvailable()
      q.stop()
      // streamed per-doc pack assignment -> per-pack aggregates
      val streamedPacks = spark.table("pack_stream").collect()
        .map { r =>
          val (key, ord, v, acc) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
          val pack = math.floor((acc - v) / graft.queries.PipelineExtras.PACK_BUDGET).toLong
          ((langs((key / 100000L).toInt), key % 100000L, pack), (ord, v))
        }
        .groupBy(_._1).map { case (k, rows) =>
          k -> (rows.length.toLong, rows.map(_._2._2).sum.toLong,
            rows.map(_._2._1).min, rows.map(_._2._1).max)
        }
      val batch = graft.queries.PipelineExtras.qSeqPacking(spark, SparkTestBase.sf0001)
        .collect().map { r =>
          (r.getString(0), r.getLong(1), r.getLong(2)) ->
            (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
        }.toMap
      assert(streamedPacks == batch,
        s"streamed packing must equal the batch query; " +
        s"onlyStream=${(streamedPacks.keySet diff batch.keySet).take(3)} " +
        s"onlyBatch=${(batch.keySet diff streamedPacks.keySet).take(3)}")
    }
  }

  test("globalRowNumber == naive global row_number, with no single-task Window in the plan") {
    val cust = Tables.customer(spark, SparkTestBase.sf0001)
    val order = Seq(col("c_acctbal").desc, col("c_custkey"))
    val df = StreamzOps.globalRowNumber(cust, order, "rn")
    val exec = df.queryExecution.executedPlan
    val globalWindows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"globalRowNumber must not plan a partition-less Window:\n$exec")
    val got = df.select(col("c_custkey"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    val want = cust.select(col("c_custkey"),
        row_number().over(w).cast("long").as("rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "range-bucketed global index must equal the naive window's values")
  }
}
