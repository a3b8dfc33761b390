package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.util.Publish

/** Operator-vocabulary facade: the reference's streamz operator names
  * (SURVEY.md §2A — public upstream API) expressed over DataFrames,
  * so a pipeline written against the reference ports 1:1.
  *
  * Design rules:
  * - Every op returns a plain DataFrame — the facade composes with
  *   the whole Spark API (ops that need an ordering take explicit
  *   order columns, because distributed data has no implicit arrival
  *   order; that is the one semantic difference from the
  *   single-threaded push-based original, and it is what makes the
  *   ops scale).
  * - Batch vs streaming: mapRows/filterRows/pluck/timedWindow/
  *   unionWith/flattenCol run unchanged on streaming frames.
  *   accumulate/slidingWindow/partitionChunks/zipWith/combineLatest/
  *   uniqueBy/collectAll use global or non-time windows that
  *   Structured Streaming rejects — they are BATCH-ONLY here.
  *   Streaming equivalents: StreamzStateOps.accumulateStream /
  *   slidingWindowStream (transformWithState, per-key state);
  *   watermarked window aggs; as-of via stream-stream interval join;
  *   dropDuplicatesWithinWatermark.
  * - No collect(), no driver loops: all ops stay in the plan.
  */
object StreamzOps {

  /** streamz rate/backpressure vocabulary (`buffer` / `rate_limit` /
    * `delay`), mapped to what actually controls flow in Structured
    * Streaming: source admission control and trigger cadence. In the
    * push-based reference these are per-operator queues; in a
    * pull-based micro-batch engine they are properties of the READ
    * (how many rows a poll admits) and the TRIGGER (how often polls
    * fire), so the facade exposes them at those two points instead of
    * pretending a mid-pipeline operator could throttle upstream.
    */

  /** `rate_limit(n)` + CDC read in one call: a pg-cdc-sim stream whose
    * poll quantum (rows admitted per micro-batch, the source's
    * ReadLimit) is `pollQuantum`. Composes with any trigger.
    */
  def cdcSource(spark: org.apache.spark.sql.SparkSession, path: String,
      pollQuantum: Long = 1000L, snapshotSeq: Long = -1L,
      numPartitions: Int = 4, deletes: Boolean = false): DataFrame =
    spark.readStream.format("pg-cdc-sim")
      .option("path", path)
      .option("batchSize", pollQuantum.toString)
      .option("snapshotSeq", snapshotSeq.toString)
      .option("numPartitions", numPartitions.toString)
      .option("deletes", deletes.toString)
      .load()

  /** `buffer(n)` for the file source: admit at most n files per
    * micro-batch (Spark's maxFilesPerTrigger admission control).
    */
  def bufferedFileSource(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String,
      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** `delay(interval)`: trigger cadence — one poll per interval. */
  def delay(interval: String): Trigger = Trigger.ProcessingTime(interval)

  /** Global row index WITHOUT the single-task Window funnel that
    * `row_number() OVER (ORDER BY ...)` plans: range-partition on the
    * order columns (distributed boundary sampling), sort WITHIN each
    * partition, then number rows as bucket offset + partition-local
    * position. One parallel shuffle plus one planning-scale counts
    * aggregate — the q_win_ntile trick (Relational.scala) factored
    * for arbitrary order columns. Values are identical to the naive
    * window's for any UNIQUE total order (`orderBy` must include a
    * tiebreak), at any scale.
    *
    * The partition-local position comes from
    * `monotonically_increasing_id`'s documented layout (partition id
    * in the upper bits, a 33-bit per-partition counter below) applied
    * AFTER the local sort — no second shuffle, unlike a
    * `Window.partitionBy(bucket)` pass, which would hash-exchange the
    * range-partitioned rows again.
    */
  def globalRowNumber(df: DataFrame, orderBy: Seq[Column], as: String,
      buckets: Int = 0): DataFrame = {
    val n = if (buckets > 0) buckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // localCheckpoint, not cache: the counts job and the consumer
    // still share one shuffle+sort, but the blocks are freed by GC
    // when the result is dropped — a cache() here would pin a full
    // copy of the input in the CacheManager per call with no handle
    // for the caller to release
    val ranged = df.repartitionByRange(n, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("_gix_pid", spark_partition_id())
      .withColumn("_gix_mid", monotonically_increasing_id())
      .localCheckpoint(true)
    val counts = ranged.groupBy(col("_gix_pid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    var acc = 0L
    val offsets = (0 until n).map { p =>
      val o = acc; acc += counts.getOrElse(p, 0L); p.toLong -> o
    }.toMap
    val offCol = element_at(typedlit(offsets), col("_gix_pid").cast("long"))
    ranged.withColumn(as, offCol +
        (col("_gix_mid") - shiftleft(col("_gix_pid").cast("long"), 33)) + lit(1L))
      .drop("_gix_pid", "_gix_mid")
  }

  implicit class StreamzDataFrame(val df: DataFrame) extends AnyVal {

    /** streamz `map(fn)`: per-element transform (projection). */
    def mapRows(exprs: Column*): DataFrame = df.select(exprs: _*)

    /** streamz `filter(pred)`. */
    def filterRows(cond: Column): DataFrame = df.filter(cond)

    /** streamz `pluck(field)`: project named fields. */
    def pluck(fields: String*): DataFrame = df.select(fields.map(col): _*)

    /** streamz `accumulate(fn, start)` (scan): running aggregate in
      * `orderBy` order (per `partitionBy` key if given), emitted on
      * every row — e.g. `accumulate(sum($"v"), Seq($"ts", $"id"))`.
      */
    def accumulate(agg: Column, orderBy: Seq[Column],
        partitionBy: Seq[Column] = Nil, as: String = "acc"): DataFrame = {
      val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(as, agg.over(w))
    }

    /** streamz `sliding_window(n)`: the last n rows' aggregate, per
      * row, in `orderBy` order.
      */
    def slidingWindow(n: Int, agg: Column, orderBy: Seq[Column],
        partitionBy: Seq[Column] = Nil, as: String = "win"): DataFrame = {
      val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        .rowsBetween(-(n - 1), Window.currentRow)
      df.withColumn(as, agg.over(w))
    }

    /** streamz `timed_window(interval)`: tumbling event-time buckets
      * (better-defined than the original's wall-clock ticks).
      */
    def timedWindow(tsCol: Column, interval: String, aggs: Column*): DataFrame =
      df.groupBy(window(tsCol, interval).getField("start").as("window_start"))
        .agg(aggs.head, aggs.tail: _*)

    /** streamz `partition(n)`: chunk ids of n consecutive rows in
      * `orderBy` order. Chunk ids derive from [[globalRowNumber]] —
      * parallel at any scale (no single-task global Window).
      */
    def partitionChunks(n: Int, orderBy: Seq[Column], as: String = "chunk"): DataFrame =
      globalRowNumber(df, orderBy, "_pc_rn")
        .withColumn(as, ((col("_pc_rn") - 1) / n).cast("long"))
        .drop("_pc_rn")

    /** streamz `union(*streams)`. */
    def unionWith(others: DataFrame*): DataFrame =
      others.foldLeft(df)(_.unionByName(_))

    /** streamz `zip(other)`: align i-th elements of two frames —
      * row-index equi-join; each side's index is defined by its own
      * explicit ordering. Both indexes derive from [[globalRowNumber]]
      * (range-bucketed offsets), so neither side funnels through a
      * single task.
      */
    def zipWith(other: DataFrame, leftOrder: Seq[Column],
        rightOrder: Seq[Column]): DataFrame = {
      val l = globalRowNumber(df, leftOrder, "_zip_idx")
      val r = globalRowNumber(other, rightOrder, "_zip_idx")
      l.join(r, "_zip_idx").drop("_zip_idx")
    }

    /** streamz `combine_latest(other)`: pair each left row with the
      * latest right row at-or-before its event time, per key — the
      * as-of join (SURVEY.md §2B #13).
      */
    def combineLatest(other: DataFrame, keyCols: (Column, Column),
        tsCols: (Column, Column), rightTiebreak: Column): DataFrame = {
      // rank per LEFT ROW, not per (key, ts) value — two left rows
      // sharing a key and timestamp must both survive
      val left = df.withColumn("_cl_id", monotonically_increasing_id())
      val joined = left.join(other,
        keyCols._1 === keyCols._2 && tsCols._2 <= tsCols._1, "left")
      val w = Window.partitionBy(col("_cl_id"))
        .orderBy(tsCols._2.desc_nulls_last, rightTiebreak.desc_nulls_last)
      joined.withColumn("_cl_rn", row_number().over(w))
        .filter(col("_cl_rn") === 1).drop("_cl_rn", "_cl_id")
    }

    /** streamz `unique()`: keep the first row per key in `orderBy`
      * order (deterministic, unlike dropDuplicates' arbitrary pick;
      * streaming pipelines use dropDuplicatesWithinWatermark).
      */
    def uniqueBy(keys: Seq[Column], orderBy: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(keys: _*).orderBy(orderBy: _*)
      df.withColumn("_u_rn", row_number().over(w))
        .filter(col("_u_rn") === 1).drop("_u_rn")
    }

    /** streamz `flatten`: one-to-many (explode an array column). */
    def flattenCol(c: Column, as: String = "item"): DataFrame =
      df.withColumn(as, explode(c))

    /** streamz `collect()`: gather values per key until "flush" —
      * grouped collect_list with deterministic element order.
      */
    def collectAll(keys: Seq[Column], value: Column, orderBy: Column,
        as: String = "collected"): DataFrame =
      df.groupBy(keys: _*)
        .agg(sort_array(collect_list(struct(orderBy.as("_ord"), value.as("_val"))))
          .as("_pairs"))
        .withColumn(as, col("_pairs").getField("_val"))
        .drop("_pairs")

    /** streamz `sink(fn)` / `sink_to_list`: terminal effect — batch
      * parquet write (streaming pipelines use writeStream/foreachBatch).
      */
    def sinkToParquet(path: String): Unit =
      df.write.mode("overwrite").parquet(path)

    /** CDC table-replication sink (SURVEY.md §2A row 3): maintain
      * `tablePath` as the LATEST row per key from a streaming
      * changelog. Per micro-batch: union the batch with the stored
      * rows of the buckets it touches, keep the max-`orderCol` row per
      * key over both (orderCol must be unique per key — a CDC seq),
      * and — when `opCol` is given — remove keys whose winning row is
      * a `deleteOp` tombstone. The batch is evaluated once: it is
      * persisted, one narrow pass over it finds the dirty buckets and
      * fills the cache, and the merge write reads the cached rows.
      * Idempotent under batch replay (a replayed batch merges to the
      * same state), so exactly-once table state composes with the
      * source's checkpoint WAL.
      *
      * Storage layout — a minimal snapshot-manifest table format,
      * built for the two properties a 100 TB replication target needs:
      *
      *   - INCREMENTAL WRITE: rows live in `numBuckets` key-hash
      *     buckets (`pmod(hash(keys), numBuckets)`). A batch rewrites
      *     ONLY the buckets its keys touch; a 1-key batch rewrites 1
      *     bucket's rows, not the table. The prior rows of those
      *     buckets are read from the dirs the manifest maps them to,
      *     and a commit dir also holds the other buckets its commit
      *     rewrote: the bucket filter below drops their rows, but the
      *     read still scans them. So a batch's read is O(dirty-bucket
      *     bytes + batch) only while each dirty bucket has a dir of its
      *     own (after [[StreamzOps.compactTable]]); otherwise it is up
      *     to the bytes of every dir a dirty bucket maps to — at most
      *     the stored table, superseded rows included.
      *   - ONE DIR PER COMMIT: a commit writes all its dirty buckets
      *     as plain parquet files into one fresh `data/m<N>/` dir, one
      *     file per write task of the merge (its shuffle partitions),
      *     not one per bucket. Each row keeps its `_gb_bucket` column.
      *   - PER-DIR BUCKET FILTER: a commit dir keeps the superseded
      *     rows of every bucket a later commit rewrote, and stays live
      *     while any bucket still maps to it. So every read of a table
      *     dir keeps only `_gb_bucket IN (the buckets the manifest maps
      *     to that dir)`; no code may read a data dir without it. The
      *     superseded rows cost space until the last bucket leaves the
      *     dir (a later commit or [[StreamzOps.compactTable]]).
      *   - ATOMIC: after the data write, the commit publishes manifest
      *     `manifest/m<N>` — a text file with `key=value` header lines
      *     (`numBuckets`, and `schema`: the stored rows' schema as
      *     JSON, so reads infer nothing) and one `bucket<TAB>dir` line
      *     per bucket (clean buckets keep their old entries;
      *     compaction, and sink commits made before commits shared
      *     one dir, map a bucket to its own `data/m<J>/_bp=<K>` dir,
      *     read the same way; a manifest without `schema` falls back
      *     to inferring it) — as one [[Publish]] file commit of a
      *     fresh name. Readers resolve the
      *     HIGHEST committed manifest, so a crash anywhere before the
      *     commit leaves the previous snapshot fully intact and merely
      *     orphans in-progress data files (overwritten on replay,
      *     since the retried batch recomputes the same manifest
      *     number). GC of superseded data/manifests runs only AFTER
      *     the new manifest is durable, from the manifest listing the
      *     commit started with. This is the same
      *     snapshot-isolation design as Iceberg/Delta commits, sized
      *     down; on a real lakehouse the whole body is one atomic
      *     MERGE INTO ... WHEN MATCHED AND op = 'D' THEN DELETE.
      *
      * Read the table back with [[StreamzOps.readUpsertTable]].
      *
      * @param numBuckets key-hash bucket count — fixed at table
      *        creation (recorded in the manifest; later calls must
      *        match). Size so one bucket ≈ a comfortable rewrite unit.
      * @param retainManifests how many SUPERSEDED snapshots to keep
      *        (default 0 = GC everything below the new commit).
      *        Retained snapshots stay fully readable — both for
      *        in-flight readers that resolved an older manifest just
      *        before a commit and for explicit time travel via
      *        `readUpsertTable(..., snapshot = Some(n))`; GC keeps
      *        every data dir any retained manifest references.
      * @param failpoint test hook: called with ("data-written" |
      *        "pre-commit" | "post-commit", batchId) at the publish
      *        barriers; a throw simulates a crash at that point.
      */
    def sinkUpsert(tablePath: String, keys: Seq[String], orderCol: String,
        checkpointLocation: String,
        opCol: Option[String] = None, deleteOp: String = "D",
        trigger: Trigger = Trigger.AvailableNow(),
        numBuckets: Int = 16,
        retainManifests: Int = 0,
        failpoint: (String, Long) => Unit = (_, _) => ()): StreamingQuery = {
      require(numBuckets > 0, s"numBuckets must be > 0 (got $numBuckets)")
      require(retainManifests >= 0,
        s"retainManifests must be >= 0 (got $retainManifests)")
      df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpointLocation)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          StreamzOps.upsertBatch(batch, tablePath, keys, orderCol, batchId,
            opCol, deleteOp, numBuckets, retainManifests, failpoint)
        }.start()
    }

    /** CDC HISTORY sink — the SCD2 counterpart of [[sinkUpsert]]:
      * maintain `tablePath` as the full version history per key
      * (q_cdc_scd2's semantic, keyed on `orderCol` instead of ts).
      * Every change row becomes a version; each bucket rewrite
      * recomputes, per key, `valid_to_ord` (the next version's
      * orderCol — null while open) and `is_current`. `opCol` rows
      * matching `deleteOp` are STORED (they close their
      * predecessor's validity and must survive future rewrites to
      * keep doing so) but are filtered from
      * [[StreamzOps.readScd2Table]] output by default.
      *
      * Correctness leans on the same key-hash bucketing as
      * sinkUpsert: a key's ENTIRE history lives in one bucket, so
      * validity recomputation is bucket-local. Version identity is
      * (keys, orderCol): a replayed batch dedups against the stored
      * history — idempotent under recovery. Storage is the identical
      * incremental + atomic snapshot-manifest format (same reader,
      * same crash-safety machinery, same retention option).
      */
    def sinkScd2(tablePath: String, keys: Seq[String], orderCol: String,
        checkpointLocation: String,
        opCol: Option[String] = None, deleteOp: String = "D",
        trigger: Trigger = Trigger.AvailableNow(),
        numBuckets: Int = 16,
        retainManifests: Int = 0,
        failpoint: (String, Long) => Unit = (_, _) => ()): StreamingQuery = {
      require(numBuckets > 0, s"numBuckets must be > 0 (got $numBuckets)")
      require(retainManifests >= 0,
        s"retainManifests must be >= 0 (got $retainManifests)")
      df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpointLocation)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          StreamzOps.scd2Batch(batch, tablePath, keys, orderCol, batchId,
            opCol, deleteOp, numBuckets, retainManifests, failpoint)
        }.start()
    }

    /** INCREMENTAL AGGREGATE-VIEW sink (§2B #130's streaming form):
      * maintain `tablePath` as a grouped additive aggregate fed by a
      * retract/delta stream — rows (groupCols…, dn: long, dv: long)
      * such as [[StreamzStateOps.retractAggStream]] emits. Each
      * micro-batch pre-folds its deltas per group, then ADDS them
      * into the stored per-group totals; groups whose maintained key
      * count reaches 0 drop out of the table.
      *
      * Exactly-once: additive application is NOT naturally idempotent
      * (replaying a batch would double-add), so every stored row
      * carries the last batchId applied to its bucket; a replayed
      * batch whose id is already recorded passes the bucket through
      * untouched. Crash before manifest commit → the manifest still
      * points at the pre-batch snapshot and the replay re-merges from
      * it; crash after commit → the replay no-ops. Same atomic
      * snapshot-manifest storage (and reader, compaction, GC) as
      * [[sinkUpsert]].
      */
    def sinkAggMaintain(tablePath: String, groupCols: Seq[String],
        checkpointLocation: String,
        trigger: Trigger = Trigger.AvailableNow(),
        numBuckets: Int = 16,
        retainManifests: Int = 0,
        failpoint: (String, Long) => Unit = (_, _) => ()): StreamingQuery = {
      require(numBuckets > 0, s"numBuckets must be > 0 (got $numBuckets)")
      require(retainManifests >= 0,
        s"retainManifests must be >= 0 (got $retainManifests)")
      df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpointLocation)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          StreamzOps.aggMaintainBatch(batch, tablePath, groupCols, batchId,
            numBuckets, retainManifests, failpoint)
        }.start()
    }
  }

  /** Merge ONE micro-batch into an SCD2 history table — the exact
    * foreachBatch body of [[StreamzDataFrame.sinkScd2]], exposed for
    * the same reason as [[upsertBatch]]: a pipeline already inside its
    * own foreachBatch (e.g. [[StreamDecon]]'s flagged-history side)
    * composes the history write into its per-batch work. Semantics,
    * version identity (keys, orderCol), tombstone storage, and
    * replay-idempotence are sinkScd2's.
    */
  def scd2Batch(batch: DataFrame, tablePath: String, keys: Seq[String],
      orderCol: String, batchId: Long,
      opCol: Option[String] = None, deleteOp: String = "D",
      numBuckets: Int = 16, retainManifests: Int = 0,
      failpoint: (String, Long) => Unit = (_, _) => ()): Unit = {
    require(numBuckets > 0, s"numBuckets must be > 0 (got $numBuckets)")
    require(retainManifests >= 0,
      s"retainManifests must be >= 0 (got $retainManifests)")
    val wAsc = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).asc)
    val versions = batch.drop("valid_to_ord", "is_current")
    commitBucketedSnapshot(versions, tablePath, keys, numBuckets,
      retainManifests, batchId, failpoint,
      priorHasDerivedColumns = true) { merged0 =>
      merged0.drop("valid_to_ord", "is_current")
        .dropDuplicates(keys :+ orderCol)
        .withColumn("valid_to_ord", lead(col(orderCol), 1).over(wAsc))
        .withColumn("is_current", (col("valid_to_ord").isNull &&
          opCol.fold(lit(true))(oc => !(col(oc) <=> lit(deleteOp))))
          .cast("int"))
    }
  }

  /** Merge ONE micro-batch of rows into a snapshot-manifest upsert
    * table — the exact foreachBatch body of
    * [[StreamzDataFrame.sinkUpsert]], exposed so pipelines that
    * already run their own foreachBatch (e.g. [[StreamDecon]]'s
    * clean side) can compose an upsert table into their per-batch
    * work instead of standing up a second streaming query.
    *
    * Semantics are sinkUpsert's: one window over (stored rows of the
    * dirty buckets ∪ batch — which may carry several rows per key)
    * keeps the latest row per key, then tombstoned keys are dropped.
    * Dropping tombstones at write is safe under Structured Streaming
    * recovery: only the in-flight batch ever replays, so no
    * earlier-committed row can resurrect a deleted key. A source
    * with broader re-delivery (Kafka earliest reset) needs retained
    * tombstones + a retention window instead.
    * Null-safe inequality: rows with a NULL op are live, not
    * silently dropped. Idempotent under batch replay (a replayed
    * batchId recomputes the same manifest number and data).
    */
  def upsertBatch(batch: DataFrame, tablePath: String, keys: Seq[String],
      orderCol: String, batchId: Long,
      opCol: Option[String] = None, deleteOp: String = "D",
      numBuckets: Int = 16, retainManifests: Int = 0,
      failpoint: (String, Long) => Unit = (_, _) => ()): Unit = {
    require(numBuckets > 0, s"numBuckets must be > 0 (got $numBuckets)")
    require(retainManifests >= 0,
      s"retainManifests must be >= 0 (got $retainManifests)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc)
    commitBucketedSnapshot(batch, tablePath, keys, numBuckets,
      retainManifests, batchId, failpoint,
      priorHasDerivedColumns = false) { merged0 =>
      val reduced = merged0.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      opCol.fold(reduced)(oc =>
        reduced.filter(!(col(oc) <=> lit(deleteOp))))
    }
  }

  /** Apply ONE delta micro-batch to a maintained aggregate table —
    * the foreachBatch body of [[StreamzDataFrame.sinkAggMaintain]],
    * exposed like [[upsertBatch]] for pipelines composing their own
    * per-batch work. `batch` rows are (groupCols…, dn, dv) signed
    * deltas; stored rows are per-group running totals plus two
    * internal columns: `_lb` (last batchId applied to the row's
    * bucket — the replay guard) and `_src` (0 = stored, 1 = incoming;
    * never persisted as 1).
    */
  def aggMaintainBatch(batch: DataFrame, tablePath: String,
      groupCols: Seq[String], batchId: Long,
      numBuckets: Int = 16, retainManifests: Int = 0,
      failpoint: (String, Long) => Unit = (_, _) => ()): Unit = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val pre = batch
      .groupBy(groupCols.map(col): _*)
      .agg(sum("dn").cast("long").as("dn"), sum("dv").cast("long").as("dv"))
      .withColumn("_lb", lit(batchId))
      .withColumn("_src", lit(1))
    commitBucketedSnapshot(pre, tablePath, groupCols, numBuckets,
      retainManifests, batchId, failpoint,
      priorHasDerivedColumns = false) { merged0 =>
      // replay guard: if this bucket's stored rows already record
      // batchId (crash AFTER manifest commit), drop the incoming
      // delta rows — the addition already happened
      val wb = Window.partitionBy(col(BucketCol))
      merged0
        .withColumn("_applied",
          max(when(col("_src") === 0, col("_lb"))).over(wb))
        .filter(col("_src") === 0 ||
          col("_applied").isNull || col("_applied") < lit(batchId))
        .groupBy((BucketCol +: groupCols).map(col): _*)
        .agg(sum("dn").as("dn"), sum("dv").as("dv"), max("_lb").as("_lb"))
        .filter(col("dn") > 0)
        .withColumn("_src", lit(0))
    }
  }

  /** Read a [[StreamzDataFrame.sinkAggMaintain]] table: per-group
    * running totals, internal bookkeeping columns dropped. */
  def readAggTable(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, snapshot: Option[Long] = None): DataFrame =
    readUpsertTable(spark, tablePath, snapshot).drop("_lb", "_src")

  /** Shared commit path of the bucketed snapshot-manifest sinks: add
    * the key-hash bucket column, read the prior state of the dirty
    * buckets, apply the sink-specific `merge` to (prior ∪ batch), and
    * publish atomically (one fresh data dir → manifest commit → GC).
    * `batchRows` is evaluated exactly once per call.
    * See [[StreamzDataFrame.sinkUpsert]] for the format's invariants.
    */
  private def commitBucketedSnapshot(batchRows: DataFrame, tablePath: String,
      keys: Seq[String], numBuckets: Int, retainManifests: Int,
      batchId: Long, failpoint: (String, Long) => Unit,
      priorHasDerivedColumns: Boolean)
      (merge: DataFrame => DataFrame): Unit = {
    val sess = batchRows.sparkSession
    // Hadoop FS, not java.io.File: tablePath may be hdfs://s3a://
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(sess.sparkContext.hadoopConfiguration)
    // persisted so the batch is evaluated once: the dirty-bucket pass
    // below fills the cache and the merge write reads it back
    val bucketed = batchRows.withColumn(BucketCol,
      pmod(hash(keys.map(col): _*), lit(numBuckets))).persist()
    // a throw anywhere below (failpoint, schema guard, write) must not
    // leave the batch cached
    try {
      // dirty buckets: one narrow pass (no exchange) — each partition
      // returns the set of its own ≤ numBuckets bucket ids
      val dirty = bucketed.select(BucketCol).queryExecution.toRdd
        .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet))
        .collect().foldLeft(Set.empty[Int])(_ ++ _)
      if (dirty.nonEmpty) {
        val committed = committedManifests(fs, tablePath)
        val cur = currentManifest(fs, tablePath, committed)
        cur.foreach(m => require(m.numBuckets == numBuckets,
          s"table was created with numBuckets=${m.numBuckets}, called with $numBuckets"))
        val priorEntries = cur.fold(Map.empty[Int, String])(_.entries.filter(e => dirty(e._1)))
        // allowMissingColumns ONLY when the sink stores derived columns
        // (sinkScd2's valid_to_ord/is_current) that batches legitimately
        // lack; for sinkUpsert the strict union is a schema-drift guard
        // — a batch silently missing a column must fail fast, not
        // null-fill the stored values
        val merged0 =
          if (priorEntries.isEmpty) bucketed
          else readBuckets(sess, tablePath, priorEntries, cur.flatMap(_.schema))
            .unionByName(bucketed, allowMissingColumns = priorHasDerivedColumns)
        val toStore = merge(merged0)
        val n = cur.map(_.n + 1).getOrElse(1L)
        val dataRel = s"data/m$n"
        toStore.write.mode("overwrite").parquet(s"$tablePath/$dataRel")
        failpoint("data-written", batchId)
        // every dirty bucket now lives in the fresh dir; a fully
        // tombstoned bucket simply reads no rows there
        val entries =
          cur.toSeq.flatMap(_.entries.toSeq).filterNot { case (b, _) => dirty(b) } ++
          dirty.toSeq.sorted.map(_ -> dataRel)
        failpoint("pre-commit", batchId)
        commitManifest(fs, tablePath, n, numBuckets, toStore.schema, entries)
        failpoint("post-commit", batchId)
        gcSuperseded(fs, tablePath, n, entries, committed, retainManifests)
      }
    } finally bucketed.unpersist()
  }

  /** Maintenance compaction for a [[StreamzDataFrame.sinkUpsert]] /
    * [[StreamzDataFrame.sinkScd2]] table: rewrite every bucket as ONE
    * file in its own `data/m<N>/_bp=<K>/` dir and publish the result
    * as a fresh manifest commit — the OPTIMIZE step that keeps
    * object-store file counts flat. It is also what frees the space of
    * partly-live commit dirs: a sink commit dir keeps the superseded
    * rows of buckets later commits rewrote until no bucket maps to it,
    * and compaction moves every bucket out (the per-dir bucket filter
    * of [[StreamzDataFrame.sinkUpsert]] keeps those rows out of the
    * rewrite). Runs through the same atomic manifest commit as the
    * sinks, so it is safe against crashes and concurrent readers (who
    * keep resolving the previous committed snapshot until the commit
    * lands); run it from the single writer between batches, like any
    * table OPTIMIZE. Returns the number of data files the snapshot
    * referenced before compaction (a dir shared by several buckets
    * counts once).
    *
    * @param zorderBy optional OPTIMIZE ZORDER BY: cluster each
    *        bucket's rewritten file by the Morton order of these
    *        dimension columns ([[ZOrder.codesFor]]), so row-group
    *        min/max stats on them become tight and multi-dimension
    *        predicates skip within the compacted files
    *        (LayoutSuite-pinned). Micro-batch writes land unordered;
    *        ordering belongs in the maintenance rewrite, which is
    *        exactly when a lakehouse OPTIMIZE applies ZORDER. The
    *        bucket layout (one dir per bucket, keyed lookups) is
    *        unchanged — the z-sort happens WITHIN each bucket.
    */
  def compactTable(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, retainManifests: Int = 0,
      zorderBy: Seq[String] = Nil, zorderBits: Int = 8): Long = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedManifests(fs, tablePath)
    val m = currentManifest(fs, tablePath, committed).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $tablePath"))
    if (m.entries.isEmpty) return 0L // fully-tombstoned table: nothing to rewrite
    val filesBefore =
      m.entries.values.toSeq.distinct.map(d => dataFileCount(fs, s"$tablePath/$d")).sum.toLong
    val next = m.n + 1
    val dataRel = s"data/m$next"
    val raw = readBuckets(spark, tablePath, m.entries, m.schema)
    val base = raw
      .repartition(m.numBuckets, col(BucketCol)) // one task -> one file per bucket
      .withColumn("_bp", col(BucketCol))
    val shaped =
      if (zorderBy.isEmpty) base
      else base
        // dimension stats (codesFor's driver jobs) run on the RAW
        // reader — planning them over `base` would pay the repartition
        // shuffle once per dimension before the rewrite even starts.
        // Sort key starts with _bp: the partitioned write's required
        // per-task ordering on the partition column is then already
        // satisfied (a semantic prefix), so no second — and not
        // necessarily stable — sort re-shuffles the z order away
        .withColumn("_z", ZOrder.zValue(ZOrder.codesFor(raw, zorderBy, zorderBits), zorderBits))
        .sortWithinPartitions(col("_bp"), col("_z"))
        .drop("_z")
    shaped.write.mode("overwrite").partitionBy("_bp")
      .parquet(s"$tablePath/$dataRel")
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tablePath/$dataRel"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case s if s.startsWith("_bp=") => s.stripPrefix("_bp=").toInt }
    val entries = written.sorted.map(b => b -> s"$dataRel/_bp=$b").toSeq
    commitManifest(fs, tablePath, next, m.numBuckets, raw.schema, entries)
    gcSuperseded(fs, tablePath, next, entries, committed, retainManifests)
    filesBefore
  }

  /** Incremental auto-OPTIMIZE: compact (optionally z-ordering — see
    * [[compactTable]]) only when some bucket's read opens more than
    * `maxFilesPerBucket` files, i.e. the dir the manifest maps it to
    * holds more data files than that (a commit dir shared by several
    * buckets counts for each of them). The check is one metadata
    * listing of each distinct dir the manifest references — cheap
    * enough to call after every micro-batch from the single writer
    * (e.g. at the end of a foreachBatch, or a scheduled maintenance
    * loop); most calls return false without touching data. Returns
    * whether a compaction ran. This is the streaming-table answer to
    * small files: the sink stays append-fast per batch and the table
    * self-heals once fragmentation crosses the threshold, instead of
    * compacting on a blind schedule. The superseded rows a partly-live
    * commit dir keeps (every read filters them out, per dir, by the
    * buckets the manifest maps there) are not counted; their space
    * stays until [[compactTable]] or later commits move the dir's
    * last bucket.
    */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, maxFilesPerBucket: Int,
      retainManifests: Int = 0, zorderBy: Seq[String] = Nil,
      zorderBits: Int = 8): Boolean = {
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket must be >= 1")
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = currentManifest(fs, tablePath, committedManifests(fs, tablePath))
      .map(_.entries)
      .getOrElse(throw new IllegalStateException(s"no committed manifest under $tablePath"))
    val fragmented = entries.values.toSeq.distinct
      .exists(d => dataFileCount(fs, s"$tablePath/$d") > maxFilesPerBucket)
    if (fragmented) compactTable(spark, tablePath, retainManifests, zorderBy, zorderBits)
    fragmented
  }

  /** Data files directly under `dir` (hidden `_`/`.` files excluded). */
  private def dataFileCount(fs: org.apache.hadoop.fs.FileSystem, dir: String): Int =
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))

  /** Read a [[StreamzDataFrame.sinkScd2]] history table: every stored
    * version with its validity interval. Tombstone versions (op =
    * deleteOp markers) are internal bookkeeping and dropped unless
    * `includeDeletes`; snapshot addressing works as in
    * [[readUpsertTable]].
    */
  def readScd2Table(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, opCol: Option[String] = None,
      deleteOp: String = "D", includeDeletes: Boolean = false,
      snapshot: Option[Long] = None): DataFrame = {
    val all = readUpsertTable(spark, tablePath, snapshot)
    if (includeDeletes) all
    else opCol.fold(all)(oc => all.filter(!(col(oc) <=> lit(deleteOp))))
  }

  /** Bucket column persisted in sinkUpsert data files (dropped by the
    * reader); prefixed to stay clear of user schemas.
    */
  private[graft] val BucketCol = "_gb_bucket"

  /** Read a committed snapshot of a [[StreamzDataFrame.sinkUpsert]]
    * table: resolve the highest committed manifest (or, with
    * `snapshot = Some(n)`, a RETAINED older manifest — time travel,
    * available when the sink runs with `retainManifests > 0`) and read
    * the buckets it maps ([[readBuckets]]). Always sees a complete,
    * committed snapshot — never a half-published batch: an in-progress
    * commit is invisible until its manifest commit lands.
    */
  def readUpsertTable(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, snapshot: Option[Long] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolved = snapshot match {
      case Some(n) => readManifest(fs, tablePath, n)
      case None => currentManifest(fs, tablePath, committedManifests(fs, tablePath))
    }
    resolved match {
      case Some(m) if m.entries.nonEmpty =>
        readBuckets(spark, tablePath, m.entries, m.schema).drop(BucketCol)
      case _ => throw new IllegalStateException(
        s"no committed sinkUpsert manifest${snapshot.fold("")(n => s" m$n")} " +
          s"under $tablePath/manifest")
    }
  }

  /** The rows of the buckets `entries` maps (bucket -> data dir), the
    * ONE way any code reads table data. Each distinct dir is read once
    * with the stored `schema` (inferred once over all the dirs when the
    * manifest predates the recorded schema), keeping only the rows of
    * the buckets mapped to THAT dir, and the reads are unioned.
    *
    * Invariant: a commit dir keeps the superseded rows of every bucket
    * a later commit rewrote, and stays live while any bucket maps to
    * it — so reading a table dir without this filter would resurrect
    * superseded and deleted rows.
    */
  private def readBuckets(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, entries: Map[Int, String],
      schema: Option[StructType]): DataFrame = {
    val byDir = entries.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (d, bs) => s"$tablePath/$d" -> bs.map(_._1).sorted }
    val s = schema.getOrElse(spark.read.parquet(byDir.map(_._1): _*).schema)
    byDir.map { case (dir, buckets) =>
      spark.read.schema(s).parquet(dir).where(col(BucketCol).isin(buckets: _*))
    }.reduce(_ union _)
  }

  /** A committed manifest: its number, the table's bucket count,
    * bucket -> data dir, and the stored rows' schema (None in
    * manifests written before the schema was recorded). */
  private case class Manifest(n: Long, numBuckets: Int,
      entries: Map[Int, String], schema: Option[StructType])

  /** Committed manifest numbers, ascending (empty if none). */
  private def committedManifests(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$tablePath/manifest")
    val listed = try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    listed.map(_.getPath.getName)
      .collect { case s if s.matches("m\\d+") => s.stripPrefix("m").toLong }
      .sorted.toSeq
  }

  /** Parse committed manifest n, None when it is missing:
    * `key=value` header lines (unknown keys are skipped, so later
    * writers may add facts) and `bucket<TAB>dir` entry lines. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, n: Long): Option[Manifest] =
    Publish.readFile(fs, new org.apache.hadoop.fs.Path(s"$tablePath/manifest/m$n"))
      .map { text =>
        val lines = text.linesIterator.toVector
        val Entry = "(\\d+)\t(.*)".r
        val entries = lines.collect { case Entry(b, d) => b.toInt -> d }.toMap
        val header = lines.filterNot(Entry.matches).filter(_.contains('='))
          .map(l => l.takeWhile(_ != '=') -> l.dropWhile(_ != '=').tail).toMap
        Manifest(n, header("numBuckets").toInt, entries,
          header.get("schema").map(DataType.fromJson(_).asInstanceOf[StructType]))
      }

  /** The highest of the `committed` manifests. */
  private def currentManifest(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, committed: Seq[Long]): Option[Manifest] =
    committed.lastOption.flatMap(readManifest(fs, tablePath, _))

  /** Publish manifest n, a fresh name, as one [[Publish]]
    * file commit. */
  private def commitManifest(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, n: Long, numBuckets: Int, schema: StructType,
      entries: Seq[(Int, String)]): Unit =
    Publish.commitFile(fs, new org.apache.hadoop.fs.Path(s"$tablePath/manifest/m$n"),
      s"numBuckets=$numBuckets\nschema=${schema.json}\n" +
        entries.map { case (b, d) => s"$b\t$d" }.mkString("\n"))

  /** Post-commit GC with a retention window: keep the newest
    * `retain + 1` committed manifests (the fresh commit n, with its
    * `entries`, plus `retain` of the `prior` ones the single writer's
    * commit started from) and every data/m<J> dir ANY retained manifest
    * references; drop the rest. Runs strictly after the new manifest is
    * durable, so a crash mid-GC only leaves garbage (the next GC drops
    * it), never breaks a committed snapshot — and with retain > 0, a
    * reader that resolved the previous manifest just before this commit
    * still reads a complete snapshot.
    */
  private def gcSuperseded(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String, n: Long, entries: Seq[(Int, String)],
      prior: Seq[Long], retain: Int): Unit = {
    val keepMin = n - retain
    val live = (entries.map(_._2) ++ prior.filter(_ >= keepMin)
        .flatMap(j => readManifest(fs, tablePath, j).toSeq.flatMap(_.entries.values)))
      .map(_.split("/")(1)).toSet // data/mJ or data/mJ/_bp=K -> mJ
    // the commit's own data dir exists, so data/ does
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$tablePath/data")).map(_.getPath)
      .foreach { p =>
        if (p.getName.matches("m\\d+") && !live(p.getName)) fs.delete(p, true)
      }
    prior.filter(_ < keepMin).foreach(j =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/manifest/m$j"), false))
  }
}
