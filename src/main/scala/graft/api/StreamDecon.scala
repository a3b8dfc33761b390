package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.util.Publish

/** Streaming decontamination — gate a (doc_id, text) doc stream
  * against a benchmark/eval set CONTINUOUSLY, on ingest, instead of
  * sweeping the corpus after the fact.
  *
  * The shape exploits doc atomicity: one stream row carries one WHOLE
  * document, so a doc's contamination verdict is final the moment its
  * micro-batch arrives — no cross-batch state at all. Each batch runs
  * the exact [[BloomDecon]] pipeline (Bloom prefilter, then exact
  * verification against the cached eval shingle table), so the
  * streamed verdicts are IDENTICAL to the batch query on the same
  * docs (suite-proven, across a checkpoint restart). The eval side is
  * built ONCE at stream start; only the constant-size Bloom ships to
  * executors, per the non-broadcast-eval regime BloomDecon exists
  * for.
  *
  * Output layout (both partitioned by batch):
  * {{{
  *   outPath/flagged/batch=<id>/   (train_doc, eval_doc, n_shared)
  *   outPath/clean/batch=<id>/     the batch's uncontaminated rows
  * }}}
  * Each batch OVERWRITES its own `batch=<id>` dirs, so a replay after
  * a crash-in-commit rewrites the same data instead of duplicating it
  * (idempotence is per-batch-directory; the streaming checkpoint
  * guarantees batch ids are stable across restarts).
  */
object StreamDecon {

  /** Start the gate. `docStream` is a streaming (doc_id, text, ...)
    * frame; `eval` is the STATIC eval set (doc_id, text). Extra
    * docStream columns ride through to the clean output.
    *
    * @param cleanTable when set, the clean side lands in a
    *        [[StreamzOps]] snapshot-manifest UPSERT table at this path
    *        (keyed by doc_id, ordered by arrival epoch) instead of
    *        per-batch directories: readers get ONE consolidated,
    *        atomically-committed table ([[StreamzOps.readUpsertTable]])
    *        and a doc re-delivered in a later batch upserts instead of
    *        duplicating — the composition a CDC-fed ingest needs,
    *        since the same doc_id can legitimately reappear updated.
    *        A doc whose LATEST revision is flagged leaves the table
    *        (tombstoned, not left at its stale clean revision); within
    *        one batch revisions are unordered, so the winner is a
    *        deterministic FULL-ROW content-hash pick and any flagged
    *        revision gates the whole doc out. Replay-idempotent like
    *        the sink it borrows ([[StreamzOps.upsertBatch]]). Read
    *        back with [[readCleanTable]] — the batch-dir [[readClean]]
    *        layout is not written in this mode. The flagged side keeps
    *        its batch-dir layout either way.
    *
    *        Ordering is `epochBase + batchId`, NOT the raw streaming
    *        batch id: the base is pinned per checkpoint lineage in a
    *        `_decon_epoch` marker under the table and re-derived as
    *        (stored max order + 1) whenever the stream starts against
    *        a FRESH checkpoint — so restarting with a new checkpoint
    *        dir (batch ids reset to 0) cannot leave stale table rows
    *        permanently out-ranking newer revisions, while a resume of
    *        the SAME checkpoint reuses its base and stays
    *        replay-idempotent.
    *
    * @param flaggedScd2 when set, contamination VERDICTS additionally
    *        keep full SCD2 history at this path
    *        ([[StreamzOps.scd2Batch]], keyed by doc_id, ordered by the
    *        same epoch): a flagged delivery opens a validity interval
    *        carrying the aggregated evidence (hit count, eval doc
    *        list, max overlap); a LATER delivery of the same doc that
    *        comes back clean closes that interval (tombstone version —
    *        `is_current` drops to 0, `valid_to_ord` is stamped); a
    *        re-contaminated delivery opens a fresh one. Read with
    *        [[readFlaggedHistory]]. The per-batch flagged dirs are
    *        written either way (they are the raw pair-level log).
    */
  def start(docStream: DataFrame, eval: DataFrame, outPath: String,
      checkpointDir: String,
      minShared: Int = graft.queries.PipelineExtras.DECON_MIN_SHARED,
      expectedEvalShingles: Long = 1000000L, fpp: Double = 0.01,
      trigger: Trigger = Trigger.ProcessingTime(0),
      cleanTable: Option[String] = None,
      cleanTableBuckets: Int = 16,
      flaggedScd2: Option[String] = None): StreamingQuery = {
    // one-time eval-side build: shingle table cached, Bloom computed
    val filter = BloomDecon.evalFilter(eval, minShared, expectedEvalShingles, fpp)
    val spark = docStream.sparkSession
    val epochBase = resolveEpochBase(spark,
      cleanTable.toSeq ++ flaggedScd2.toSeq, checkpointDir)
    val query = docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(filter, batch, outPath, batchId, cleanTable,
          cleanTableBuckets, flaggedScd2, epochBase)
      }
      .start()
    // release the cached eval shingles when THIS query ends (stop or
    // failure) — a restart builds a fresh filter, so the old cache
    // entry would otherwise linger for the session lifetime
    val streams = docStream.sparkSession.streams
    streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) { filter.close(); streams.removeListener(this) }
    })
    query
  }

  /** One batch's gate + write — factored out so idempotence under
    * replay (same batchId twice) is directly testable. */
  private[graft] def writeBatch(filter: BloomDecon.EvalFilter,
      batch: DataFrame, outPath: String, batchId: Long,
      cleanTable: Option[String] = None,
      cleanTableBuckets: Int = 16,
      flaggedScd2: Option[String] = None,
      epochBase: Long = 0L): Unit = {
    val spark = batch.sparkSession
    val ord = epochBase + batchId // the lineage-safe upsert order
    // both writes consume the batch (flag() shingles it, the clean
    // side anti-joins it) — cache so the source is read once per batch
    val b = batch.cache()
    // a throwing write must not leave either frame cached
    try {
      val flagged = filter.flag(b)
        .cache() // consumed by its own write + the clean anti-join
      try {
        flagged.write.mode("overwrite").parquet(s"$outPath/flagged/batch=$batchId")
        val flaggedIds = flagged.select(col("train_doc").as("doc_id")).distinct()
        val clean = b.join(flaggedIds, Seq("doc_id"), "left_anti")
          // = filter.clean(b), reusing the cached flags
        cleanTable match {
          case Some(table) =>
            // Stream rows carry no intra-batch order, so a doc_id delivered
            // twice in ONE batch has no "later" revision — pre-reduce to one
            // row per key with a content-hash tiebreak over the WHOLE row
            // (two revisions with identical text but different ride-through
            // columns must not tie): deterministic, so a checkpoint replay
            // of the batch picks the SAME winner.
            val rowHash = md5(to_json(struct(clean.columns.map(col): _*)))
            val oneRev = clean
              .withColumn("_rn", row_number().over(
                org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
                  .orderBy(rowHash)))
              .filter(col("_rn") === 1).drop("_rn")
            // A flagged doc must LEAVE the table, not linger at its last
            // clean revision: ship its id as a tombstone, so a doc whose
            // re-delivered revision is contaminated is removed (op=D rows
            // drop their key in the merge). If any revision of a doc in
            // this batch is flagged, the whole doc gates out.
            val tombs = b.join(flaggedIds, Seq("doc_id"), "left_semi")
              .dropDuplicates("doc_id")
              .withColumn("_op", lit("D"))
            StreamzOps.upsertBatch(
              oneRev.withColumn("_op", lit(null).cast("string")).unionByName(tombs)
                .withColumn("_ingest_batch", lit(ord)),
              table, keys = Seq("doc_id"), orderCol = "_ingest_batch",
              batchId = batchId, opCol = Some("_op"),
              numBuckets = cleanTableBuckets)
          case None =>
            clean.write.mode("overwrite").parquet(s"$outPath/clean/batch=$batchId")
        }
        flaggedScd2.foreach { table =>
          // Verdict version per delivered doc: the batch's flagged pairs
          // aggregate to ONE deterministic row per doc (the SCD2 version
          // identity is (doc_id, _ingest_batch) — pair-level detail stays
          // in the batch-dir log).
          val verdicts = flagged.groupBy(col("train_doc").as("doc_id"))
            .agg(count(lit(1)).as("eval_hits"),
              sort_array(collect_set(col("eval_doc"))).as("eval_docs"),
              max(col("n_shared")).as("max_shared"))
            .withColumn("_op", lit(null).cast("string"))
          // Flip-to-clean: a doc delivered in THIS batch, clean now, but
          // with an OPEN flagged interval in the history, closes it via a
          // tombstone version. The open set is read from the last committed
          // snapshot — small by construction (contamination is the rare
          // case), and bucket-local like every history row. On a replay the
          // already-written tombstone makes the doc non-current, so the
          // flip regenerates as a no-op union against the stored version —
          // state converges (suite pins the restart).
          val openFlagged =
            try readFlaggedHistory(spark, table)
              .filter(col("is_current") === 1).select("doc_id")
            catch { case _: IllegalStateException => // table not created yet
              b.select("doc_id").limit(0)
            }
          val flips = openFlagged
            .join(b.select("doc_id").distinct(), Seq("doc_id"))
            .join(flaggedIds, Seq("doc_id"), "left_anti")
            .withColumn("eval_hits", lit(null).cast("long"))
            .withColumn("eval_docs", lit(null).cast("array<bigint>"))
            .withColumn("max_shared", lit(null).cast("long"))
            .withColumn("_op", lit("D"))
          StreamzOps.scd2Batch(
            verdicts.unionByName(flips).withColumn("_ingest_batch", lit(ord)),
            table, keys = Seq("doc_id"), orderCol = "_ingest_batch",
            batchId = batchId, opCol = Some("_op"),
            numBuckets = cleanTableBuckets)
        }
      } finally flagged.unpersist()
    } finally b.unpersist()
  }

  /** Resolve the upsert-order epoch base for this (tables, checkpoint)
    * pairing — the fix for silently coupling a table to one checkpoint
    * lineage: raw streaming batch ids restart at 0 with a fresh
    * checkpoint, which would leave previously-stored rows (higher old
    * ids) permanently out-ranking every new revision. Rule: RESUMING
    * an existing checkpoint reuses the base pinned in each table's
    * `_decon_epoch` marker (so replayed batches keep their exact
    * order values — idempotent); a FRESH checkpoint (no committed
    * offsets) re-bases at stored-max-order + 1 across the tables and
    * publishes it as each marker's next [[Publish]] version (a file
    * `base` in `_decon_epoch/v<N>`), so no marker is ever rewritten in
    * place. Tables created before this scheme have no marker: resuming
    * defaults to base 0, the historical behavior.
    */
  private[graft] def resolveEpochBase(spark: SparkSession,
      tables: Seq[String], checkpointDir: String): Long = {
    if (tables.isEmpty) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    def fsOf(p: String) = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
    val offsets = new org.apache.hadoop.fs.Path(s"$checkpointDir/offsets")
    val resuming = {
      val cfs = fsOf(checkpointDir)
      cfs.exists(offsets) && cfs.listStatus(offsets).nonEmpty
    }
    def markerDir(t: String) = s"$t/_decon_epoch"
    def basePath(vdir: String) = new org.apache.hadoop.fs.Path(s"$vdir/base")
    if (resuming)
      tables.flatMap(t => Publish.current(spark, markerDir(t)).flatMap(v =>
        Publish.readFile(fsOf(t), basePath(v)).map(_.trim.toLong)))
        .maxOption.getOrElse(0L)
    else {
      // fresh lineage: out-rank everything stored in ANY of the tables
      val maxStored = tables.flatMap { t =>
        try StreamzOps.readUpsertTable(spark, t)
          .agg(max(col("_ingest_batch"))).collect()
          .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        catch { case _: Exception => None } // table not created yet
      }.maxOption
      val base = maxStored.map(_ + 1L).getOrElse(0L)
      tables.foreach(t => Publish.publish(spark, markerDir(t))(v =>
        Publish.commitFile(fsOf(t), basePath(v), base.toString)))
      base
    }
  }

  /** The flagged-verdict SCD2 history of a `flaggedScd2` stream: one
    * row per (doc, verdict interval) — `_ingest_batch` opens the
    * interval, `valid_to_ord` closes it (null while open),
    * `is_current` marks docs flagged as of now. Tombstone versions
    * (the flip-to-clean markers) are retained in storage but hidden
    * here unless `includeDeletes`. */
  def readFlaggedHistory(spark: SparkSession, tablePath: String,
      includeDeletes: Boolean = false): DataFrame =
    StreamzOps.readScd2Table(spark, tablePath, opCol = Some("_op"),
      includeDeletes = includeDeletes)

  /** All flagged pairs so far (batch partition column dropped). */
  def readFlagged(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/flagged").drop("batch")

  /** All gated-clean docs so far — the per-batch-dir layout. A stream
    * started with `cleanTable` writes no such dirs: read that table
    * with [[readCleanTable]] instead. */
  def readClean(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/clean").drop("batch")

  /** The consolidated clean table of a `cleanTable` stream: current
    * clean revision per doc, internal upsert columns dropped. */
  def readCleanTable(spark: SparkSession, cleanTable: String): DataFrame =
    StreamzOps.readUpsertTable(spark, cleanTable)
      .drop("_ingest_batch", "_op")
}
