package graft.api

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Publish

/** Persisted per-segment distinct sketches + rescan-free overlap
  * algebra — the operational form of the theta row (#126): ONE linear
  * pass builds a KB-sized theta sketch per segment (source, language,
  * date, shard…); after that, EVERY audience/coverage question —
  * pairwise overlap matrices, union coverage of a segment subset,
  * incremental refresh — is pure sketch algebra on the driver, no
  * data rescan. This is how a 100 TB corpus answers "how much do
  * source A and source B overlap in users/URLs/doc hashes" in
  * milliseconds instead of a shuffle.
  *
  * Layout: one parquet table of (segment, sketch bytes, n_rows) per
  * [[Publish]] version `dir/v<N>` — segment-count-sized (thousands at
  * most), trivially readable anywhere. [[build]] and [[refresh]] each
  * publish a fresh version; readers load the current one, so a failed
  * write leaves the previous sketches live. [[refresh]] unions NEW
  * data's sketches into the stored ones (theta unions are associative
  * and idempotent-friendly: re-adding the same keys never inflates the
  * estimate), which is the incremental-maintenance property plain
  * `COUNT(DISTINCT)` tables do not have.
  */
object SegmentSketches {

  private def heapify(b: Array[Byte]): CompactSketch =
    CompactSketch.heapify(Memory.wrap(b))

  /** One linear pass: per-segment theta sketch of `keyCol` (+ exact
    * row count), published as a fresh version under `dir`. */
  def build(spark: SparkSession, df: DataFrame, segmentCol: String,
      keyCol: String, dir: String,
      nominalEntries: Int = graft.functions.ThetaSketch.DEFAULT_NOMINAL): Unit = {
    graft.functions.ThetaSketch.register(spark)
    df.createOrReplaceTempView("segment_sketch_in")
    publish(spark, dir, spark.sql(
      s"""SELECT $segmentCol AS segment,
         |       theta_sketch_agg($keyCol, $nominalEntries) AS sketch,
         |       COUNT(*) AS n_rows
         |FROM segment_sketch_in GROUP BY $segmentCol""".stripMargin))
  }

  /** Union new data into the stored sketches (incremental refresh —
    * segments absent so far appear, existing ones grow; re-ingesting
    * already-seen keys is harmless by construction). One write job
    * publishes the union as the next version; the current one is only
    * read. */
  def refresh(spark: SparkSession, newData: DataFrame, segmentCol: String,
      keyCol: String, dir: String,
      nominalEntries: Int = graft.functions.ThetaSketch.DEFAULT_NOMINAL): Unit = {
    graft.functions.ThetaSketch.register(spark)
    newData.createOrReplaceTempView("segment_sketch_new")
    stored(spark, dir).select(col("segment"), col("sketch"), col("n_rows"))
      .createOrReplaceTempView("segment_sketch_old")
    publish(spark, dir, spark.sql(
      s"""SELECT segment, theta_union_agg(sketch) AS sketch,
         |       CAST(SUM(n_rows) AS BIGINT) AS n_rows
         |FROM (
         |  SELECT segment, sketch, n_rows FROM segment_sketch_old
         |  UNION ALL
         |  SELECT $segmentCol AS segment,
         |         theta_sketch_agg($keyCol, $nominalEntries) AS sketch,
         |         COUNT(*) AS n_rows
         |  FROM segment_sketch_new GROUP BY $segmentCol)
         |GROUP BY segment""".stripMargin))
  }

  private def publish(spark: SparkSession, dir: String, sketches: DataFrame): Unit =
    Publish.publish(spark, dir)(sketches.repartition(1).write.parquet(_))

  /** The current version's table. */
  private def stored(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Publish.current(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed segment sketches under $dir")))

  /** Continuous maintenance: keep the stored sketches current from a
    * STREAMING frame — each micro-batch unions its per-segment
    * sketches into the table ([[build]] bootstraps when no version is
    * committed).
    * At-least-once delivery needs NO dedup here: a replayed batch
    * re-unions keys the table already holds, and theta union of
    * already-seen keys cannot move the estimate — the sketch is
    * idempotent by construction, which is exactly why sketch tables
    * beat `COUNT(DISTINCT)` materializations for streaming upkeep.
    * n_rows (an advisory ingest counter) CAN double-count on replay;
    * documented, never part of any estimate. */
  def sinkRefresh(df: DataFrame, segmentCol: String, keyCol: String,
      dir: String, checkpointLocation: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      nominalEntries: Int = graft.functions.ThetaSketch.DEFAULT_NOMINAL)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        if (Publish.current(spark, dir).isDefined)
          refresh(spark, batch, segmentCol, keyCol, dir, nominalEntries)
        else build(spark, batch, segmentCol, keyCol, dir, nominalEntries)
      }.start()

  /** The stored sketches, heapified driver-side: segment →
    * (sketch, exact ingested row count). Segment-count-sized. */
  def load(spark: SparkSession, dir: String): Map[String, (CompactSketch, Long)] =
    stored(spark, dir).collect()
      .map(r => r.getAs[String]("segment") ->
        (heapify(r.getAs[Array[Byte]]("sketch")), r.getAs[Long]("n_rows")))
      .toMap

  /** All-pairs overlap matrix from the STORED sketches alone — K²
    * driver-side sketch intersections for K segments, zero data
    * access. Rows: (seg_a, seg_b, est_a, est_b, est_union,
    * est_intersect, jaccard_est) for a < b. */
  def overlapMatrix(spark: SparkSession, dir: String): Seq[(String, String, Double, Double, Double, Double, Double)] = {
    val sk = load(spark, dir).toSeq.sortBy(_._1)
    sk.combinations(2).toSeq.map { pair =>
      val (a, (ska, _)) = pair(0)
      val (b, (skb, _)) = pair(1)
      val u = SetOperation.builder().buildUnion().union(ska, skb).getEstimate
      val i = SetOperation.builder().buildIntersection().intersect(ska, skb).getEstimate
      (a, b, ska.getEstimate, skb.getEstimate, u, i, if (u == 0.0) 0.0 else i / u)
    }
  }

  /** Distinct-coverage estimate of a SUBSET of segments (e.g. "how
    * many unique users would these five sources contribute") — one
    * driver-side union chain over the stored sketches. */
  def unionCoverage(spark: SparkSession, dir: String, segments: Seq[String]): Double = {
    val sk = load(spark, dir)
    val u = SetOperation.builder().buildUnion()
    segments.foreach(s => sk.get(s).foreach { case (c, _) => u.union(c) })
    u.getResult.getEstimate
  }
}
