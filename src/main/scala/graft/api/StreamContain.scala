package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.util.Publish

/** Streaming containment dedup — the batch `q_dedup_containment`
  * scorer (PPJoin prefix filter, exact recount,
  * |A∩B| / min(|A|,|B|) ≥ τ — queries/PipelineExtras.
  * ngramContainmentPairs) run INCREMENTALLY over a (doc_id, text)
  * stream, so boilerplate-in-container duplicates are caught at
  * ingest instead of by an after-the-fact corpus sweep.
  *
  * After replaying a corpus through the stream — in any batch
  * partitioning, across restarts — the emitted pair set is IDENTICAL
  * to the batch query on the same corpus (suite-pinned). That holds
  * because of one property of the prefix filter that makes the state
  * append-only:
  *
  * **The prefix recall proof is order-free.** For a qualifying pair,
  * the smaller doc S has at most (1−τ)·|S| shingles outside the
  * overlap, so ANY ⌊(1−τ)·|S|⌋+1-subset of S's shingles contains an
  * overlap shingle — the rarity ordering only shrinks candidate
  * COUNTS, never recall. A doc's prefix can therefore be FROZEN at
  * ingest (ranked by its batch's local document frequencies) and
  * stays recall-complete forever, no matter what arrives later.
  * State never needs rewriting: postings, sizes, and prefixes are
  * each appended once per batch.
  *
  * Per batch B against history H (all prior batches), the pairs that
  * become decidable are exactly those touching B, and both pigeonhole
  * directions cover them:
  *  - `prefix(B) ⋈ postings(H ∪ B)` finds pairs whose SMALLER doc is
  *    new;
  *  - `prefix(H) ⋈ postings(B)` finds pairs whose smaller doc is
  *    historical and whose partner just arrived.
  * Candidates then get the exact recount (full shingle intersection,
  * `least()` denominator, `round(…, 6)`) — identical arithmetic to
  * the batch query, so scores hash-match cross-engine. A pair is
  * generated in exactly one batch (the one where its second member
  * arrives), so the per-batch outputs concatenate without dedup.
  *
  * Layout (every dir overwritten per batch — replay of a batch id
  * rewrites the same data, the [[StreamDecon]] idempotence scheme;
  * history reads filter `batch < batchId`, so a replayed batch
  * re-derives from the exact state it saw the first time):
  * {{{
  *   stateDir/shingles/batch=<id>/   (doc_id, sh)     full postings
  *   stateDir/prefix/batch=<id>/     (doc_id, sh)     frozen prefixes
  *   stateDir/sizes/batch=<id>/      (doc_id, sz)
  *   outPath/batch=<id>/             (doc_a, doc_b, containment)
  * }}}
  *
  * Delivery contract: docs are immutable and at-least-once — a
  * doc_id re-delivered in a LATER batch is dropped against the seen
  * set (revision semantics are [[StreamDecon]]'s cleanTable
  * territory, not a dedup scorer's). Restarts must resume the same
  * checkpoint (ids replay against matching state dirs).
  *
  * Scale shape: per batch, the batch side (shingles, prefixes) is
  * micro-batch-sized and broadcasts; the history side is touched by
  * three broadcast-probed columnar scans (candidate postings probe +
  * the two recount legs), never shuffled, never all-pairs — cost per
  * batch ∝ |B| + postings of the batch's prefix shingles, i.e.
  * proportional to the true duplicate density exactly like the batch
  * query. At 100 TB the posting store becomes a shingle-bucketed
  * table so those probes prune to matching buckets instead of full
  * scans; the per-batch-dir layout here keeps the same join shape.
  *
  * Relation to the r13 batch row: `q_dedup_containment` now collapses
  * exact duplicates first and df-caps its candidate probe
  * (PipelineExtras.NGRAM_POSTING_DF_CAP). Both are no-ops on corpora
  * whose shingle dfs stay under the cap — the suite corpora, and any
  * corpus the streamed==batch pin is meaningful for — because the
  * collapse only reroutes identical-text pairs (same pairs, same 1.0
  * scores, which this scorer finds via its prefix join) and a
  * non-binding cap admits every posting. On df-saturated corpora the
  * batch row intentionally drops all-hot candidate routes that this
  * ingest-time scorer would still pay for; the scale answer there is
  * the banded row (#138 q_dedup_contain_minhash), whose streaming
  * analog is NearDupStream's band state, not a postings store.
  */
object StreamContain {

  /** Start the scorer. `docStream` is a streaming (doc_id, text)
    * frame; pairs land under `outPath`, postings/prefix/size state
    * under `stateDir`. */
  def start(docStream: DataFrame, stateDir: String, outPath: String,
      checkpointDir: String,
      threshold: Double = graft.queries.PipelineExtras.NGRAM_CONTAIN_MIN,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    docStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, stateDir, outPath, batchId, threshold)
      }
      .start()

  private val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("sh", StringType)))
  private val sizeSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("sz", LongType)))

  /** One batch's score + write — factored out so replay idempotence
    * (same batchId twice) is directly testable, like
    * [[StreamDecon.writeBatch]]. */
  private[graft] def writeBatch(batch: DataFrame, stateDir: String,
      outPath: String, batchId: Long, threshold: Double): Unit = {
    val spark = batch.sparkSession
    checkThresholdMarker(spark, stateDir, threshold)

    // history = strictly earlier batches: a replay of THIS id must
    // re-derive from the state it saw first time, not from its own
    // half-written output (partition pruning keeps this a dir filter)
    def readState(name: String, schema: StructType): DataFrame = {
      val path = s"$stateDir/$name"
      try spark.read.parquet(path).filter(col("batch") < batchId)
        .select(schema.fieldNames.map(col): _*)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
    }
    val seenSizes = readState("sizes", sizeSchema)

    // shingle EXACTLY like the batch query — the transform is the
    // shared PipelineExtras.containShingles, so the two paths cannot
    // drift; dropDuplicates first: at-least-once delivery may repeat
    // a doc row WITHIN a batch, which would double-count its size
    val shB = graft.queries.PipelineExtras.containShingles(
        batch.select(col("doc_id"), col("text"))
          .dropDuplicates("doc_id")
          .join(seenSizes.select("doc_id"), Seq("doc_id"), "left_anti"))
      .cache() // consumed ~6×: sizes, prefix, both candidate legs, recount
    try {
    val sizesB = shB.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

    // frozen prefix: ranked by BATCH-LOCAL rarity — a cost heuristic
    // only (see the order-free proof above), so no history rescan;
    // the slot arithmetic is the shared containPrefixSlots
    val prefixB = shB
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .join(sizesB, "doc_id")
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("_r") <=
        graft.queries.PipelineExtras.containPrefixSlots(col("sz"), threshold))
      .select(col("doc_id"), col("sh"))

    val shH = readState("shingles", shingleSchema)
    val prefH = readState("prefix", shingleSchema)
    val allSh = shH.unionByName(shB)
    val allSizes = seenSizes.unionByName(sizesB)

    // both pigeonhole directions; every candidate touches B, so each
    // pair surfaces in exactly one batch
    def pairify(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val cand = pairify(prefixB, allSh).unionByName(pairify(prefH, shB))
      .distinct()

    // exact recount on candidates only — identical arithmetic to the
    // batch query, so the concatenated stream output hash-matches it
    val pairs = cand
      .join(allSh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(allSh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(allSizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(allSizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / least(col("sa"), col("sb")).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)

    // pairs first, state after: a crash between the two replays the
    // batch, which overwrites both; writing state first would let a
    // crash strand postings whose pairs the replay then re-derives
    // anyway (same dirs) — either order converges, this one keeps the
    // output dir never-ahead-of-state
    pairs.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    shB.write.mode("overwrite").parquet(s"$stateDir/shingles/batch=$batchId")
    prefixB.write.mode("overwrite").parquet(s"$stateDir/prefix/batch=$batchId")
    sizesB.write.mode("overwrite").parquet(s"$stateDir/sizes/batch=$batchId")
    } finally shB.unpersist() // a throwing write must not pin the cache
    ()
  }

  /** Frozen prefixes bake the threshold in at ingest: a pair needs a
    * ⌊(1−τ)·sz⌋+1 prefix for the pigeonhole guarantee at τ, so state
    * written at a HIGHER τ (shorter prefixes) silently loses recall
    * if the stream restarts at a lower one. Pin τ in a marker file
    * under stateDir on first write and refuse a mismatch — rebuild
    * the state dir to change the threshold. */
  private def checkThresholdMarker(spark: SparkSession, stateDir: String,
      threshold: Double): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_threshold")
    val fs = marker.getFileSystem(conf)
    Publish.readFile(fs, marker).map(_.trim.toDouble) match {
      case None => Publish.commitFile(fs, marker, threshold.toString)
      case Some(stored) if stored != threshold => throw new IllegalStateException(
        s"StreamContain state at $stateDir was built at threshold $stored; " +
          s"restarting at $threshold would silently lose recall for pairs " +
          "below the stored threshold (frozen prefixes are too short). " +
          "Use a fresh stateDir (and checkpoint) to change the threshold.")
      case _ =>
    }
  }

  /** All pairs emitted so far, one row per pair (batch column
    * dropped — pairs are cross-batch unique by construction). */
  def readPairs(spark: SparkSession, outPath: String): DataFrame =
    try spark.read.parquet(outPath).select("doc_a", "doc_b", "containment")
    catch { case _: org.apache.spark.sql.AnalysisException =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_a", LongType),
          StructField("doc_b", LongType), StructField("containment", DoubleType))))
    }
}
