package graft.api

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Publish

/** Persisted IVF (inverted-file) ANN index — the build-once /
  * query-many / grow-incrementally lifecycle that the inline
  * `q_sim_ivf_ann` demo omits. A seeded KMeans coarse quantizer
  * routes every vector to a cell; the corpus lies on disk
  * PARTITIONED BY CELL, so the cell directories ARE the inverted
  * lists and a probe reads only its nProbe cells (partition pruning —
  * plan-asserted in IvfIndexSuite).
  *
  * Layout:
  * {{{
  *   indexDir/meta/v<N>/centroids   (cell, center)        — coarse quantizer
  *   indexDir/meta/v<N>/codebooks   (subspace, code, center) — Pq only
  *   indexDir/meta/v<N>/props       (cell encoding, cells dir)
  *   indexDir/cells/v<N>/cell=<c>/  (vec_id, embedding[, codes])
  * }}}
  *
  * The cell [[Encoding]] is chosen at build and persisted in `props`:
  *  - [[Flat]]: cells hold (vec_id, embedding); a probe re-ranks every
  *    row of its probed cells exactly (`fvec_dot`).
  *  - [[Pq]]: cells also hold `m` byte-packed product-quantization
  *    codes ([[PqIndex]] is the encoder) — the canonical
  *    billion-vector layout. A probe ADC-scans only the probed cells'
  *    CODE column (parquet column pruning keeps the embedding bytes
  *    out — plan-asserted) and exact re-ranks a per-query shortlist.
  *    Codes encode the raw vector, or with `residual = true` the
  *    classic IVF-PQ residual `x − centroid(cell)` (Jégou et al.),
  *    which concentrates the codebooks on the within-cell geometry.
  *    The trade is operational: raw codes are independent of cell
  *    assignment (`splitCell` only re-routes rows), residual codes
  *    tie to their cell (`splitCell` re-encodes the split cell's rows,
  *    still O(one cell), and the query computes its ADC lookup table
  *    per (query, probed cell)).
  * Readers and later mutations read the encoding from the meta
  * version, so they can never mix two encodings.
  *
  * Centroids, codebooks AND the cells dir they pair with publish
  * TOGETHER as one `meta/v<N>` version of [[Publish]]: ADC
  * against a codebook from a different build than the codes is
  * silently wrong, and a flat probe routed by new centroids into old
  * cells misses its neighbors, so the trio flips atomically —
  * including across a REBUILD, which fills the fresh slot
  * `cells/v<N>` and never touches the previous version's files.
  * Centroids ride in a UDF closure (k × dim doubles — broadcast-sized
  * by construction at any corpus scale).
  */
object IvfIndex {

  /** How an index's cells store their vectors — see [[IvfIndex]]. */
  sealed trait Encoding
  case object Flat extends Encoding
  /** @param m byte-packed codes per vector (one per contiguous
    *        subspace; dim must be divisible by m)
    * @param kSub centroids per subspace codebook, 1 < kSub <= 256
    * @param residual encode x − centroid(cell) instead of x
    */
  final case class Pq(m: Int = 8, kSub: Int = 16, residual: Boolean = false) extends Encoding {
    // kSub > 256 would silently truncate in the byte encoder
    require(m > 0 && kSub > 1 && kSub <= 256,
      s"need m > 0, 1 < kSub <= 256 (byte-packed codes) (got $m, $kSub)")
  }

  private def metaPath(dir: String) = s"$dir/meta"

  private case class Meta(centers: Array[(Int, Array[Double])],
      encoding: Encoding,
      books: Seq[(Int, Int, Seq[Double])],
      cellsDir: String) {
    def cellsPath(indexDir: String): String = s"$indexDir/$cellsDir"
    def live: Seq[Int] = centers.map(_._1).toSeq
    /** A cell row's columns besides `cell`. */
    def rowCols: Seq[Column] =
      (Seq("vec_id", "embedding") ++ (if (encoding == Flat) Nil else Seq("codes"))).map(col)
  }

  private def encodingProps(e: Encoding): Seq[(String, String)] = e match {
    case Flat => Seq("encoding" -> "flat")
    case Pq(m, kSub, residual) => Seq("encoding" -> "pq", "m" -> m.toString,
      "kSub" -> kSub.toString, "residual" -> residual.toString)
  }

  private def encodingOf(props: Map[String, String]): Encoding =
    props.get("encoding") match {
      case Some("flat") => Flat
      case Some("pq") =>
        Pq(props("m").toInt, props("kSub").toInt, props("residual").toBoolean)
      case other => throw new IllegalStateException(s"unknown cell encoding $other")
    }

  /** n-scaled coarse-quantizer cell count: ~√n, floored at 16.
    *
    * Why not a constant: a FIXED kCells is the same trap the r17
    * entry-probe sweep killed for graph-ANN entry counts — at 2M
    * vectors, nProbe = 4 of 16 cells scans 25% of the corpus per
    * query, and the fraction never improves as the corpus grows. √n
    * keeps both sides of the cost balanced as n scales: the quantizer
    * assignment is O(kCells · dim) per query and the probed lists are
    * O(nProbe · n / kCells) rows, so kCells ≈ √n grows the per-query
    * cost as O(√n) instead of O(n) — the standard IVF sizing (FAISS
    * recommends √n–16√n). Capped at 65536: past that the centroid
    * table stops being comfortably broadcast/UDF-closure sized and a
    * hierarchical quantizer is the right structure instead.
    */
  def defaultCells(n: Long): Int =
    math.min(math.max(16, math.round(math.sqrt(n.toDouble))), 65536L).toInt

  private def loadMetaOpt(spark: SparkSession, indexDir: String): Option[Meta] =
    Publish.current(spark, metaPath(indexDir)).map(_ => loadMeta(spark, indexDir))

  private def loadMeta(spark: SparkSession, indexDir: String): Meta = {
    val vdir = Publish.current(spark, metaPath(indexDir)).getOrElse(
      throw new IllegalStateException(s"no committed IVF index under $indexDir"))
    val props = spark.read.parquet(s"$vdir/props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val encoding = encodingOf(props)
    val centers = spark.read.parquet(s"$vdir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val books = encoding match {
      case Flat => Nil
      case _: Pq => PqIndex.loadBooks(spark, s"$vdir/codebooks")
    }
    Meta(centers, encoding, books, props("cellsDir"))
  }

  /** The meta version owns its cells dir (`props.cellsDir`), so a
    * REBUILD writes a fresh `cells/v<N>` and flips to it atomically
    * with the new centroids and codebooks: a crash mid-rebuild, or a
    * reader holding the previous meta, keeps pairing the OLD
    * quantizer with the OLD cells. `cellsDir` gets the name of the
    * meta slot (`v<N>`) and returns the cells dir the version routes
    * to: a fresh `cells/v<N>` it has written, or the current one for
    * in-place mutations (`add`, `splitCell`), which don't bump it.
    * Returns that cells dir.
    */
  private def publishMeta(spark: SparkSession, indexDir: String,
      centers: Seq[(Int, Seq[Double])], encoding: Encoding,
      books: Seq[(Int, Int, Seq[Double])])(cellsDir: String => String): String = {
    val sess = spark
    import sess.implicits._
    var routed = ""
    Publish.publish(spark, metaPath(indexDir)) { vdir =>
      routed = cellsDir(new org.apache.hadoop.fs.Path(vdir).getName)
      centers.sortBy(_._1).toDF("cell", "center")
        .repartition(1).write.mode("overwrite").parquet(s"$vdir/centroids")
      if (encoding != Flat) books.toDF("subspace", "code", "center")
        .repartition(1).write.mode("overwrite").parquet(s"$vdir/codebooks")
      (("cellsDir" -> routed) +: encodingProps(encoding))
        .toDF("key", "value")
        .repartition(1).write.mode("overwrite").parquet(s"$vdir/props")
    }
    routed
  }

  /** GC superseded cells versions: everything under `cells/` except
    * the dirs in `keep` (the newly published one and the one the
    * PREVIOUS meta pointed at, retained for in-flight readers). Keyed
    * by dir membership, NOT by version arithmetic — meta versions
    * advance on splits without bumping the cells dir, so "delete
    * v < n-1" would delete the live previous dir.
    */
  private def gcCellVersions(spark: SparkSession, indexDir: String,
      keep: Set[String]): Unit = {
    val fs = Publish.fs(spark, s"$indexDir/cells")
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.matches("v\\d+") && !keep(s"cells/${p.getName}"))
      .foreach(p => fs.delete(p, true))
  }

  /** Drop cell dirs the committed meta does not route to — the
    * leftovers of a splitCell that crashed between its meta publish
    * and its old-dir delete. Probes never touch them (no centroid
    * routes there), but cellSizes/rebalance must not see them, and
    * they are dead bytes. Single-writer maintenance, like the split
    * itself.
    */
  private def sweepOrphanCells(spark: SparkSession, cellsPath: String,
      meta: Meta): Unit = {
    val fs = Publish.fs(spark, cellsPath)
    val root = new org.apache.hadoop.fs.Path(cellsPath)
    if (!fs.exists(root)) return
    val live = meta.live.toSet
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("cell=") &&
        !live(p.getName.stripPrefix("cell=").toInt))
      .foreach(p => fs.delete(p, true))
  }

  /** Nearest-cell assignment against the centroids (no retrain); `n`
    * cells per vector, nearest first.
    */
  private def nearestCells(centers: Array[(Int, Array[Double])], n: Int) =
    udf((a: Seq[Float]) => {
      val v = a.map(_.toDouble).toArray
      centers.map { case (i, c) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(n).map(_._2)
    })

  /** x − centroid(cell), as array<float> — the residual the PQ
    * codebooks quantize when `residual = true`. */
  private def residualUdf(centers: Array[(Int, Array[Double])]) = {
    val byCell = centers.toMap
    udf((a: Seq[Float], cell: Int) => {
      val c = byCell(cell)
      Array.tabulate(a.length)(i => (a(i) - c(i)).toFloat)
    })
  }

  /** The vector a [[Pq]] encoding quantizes, over (embedding, cell). */
  private def encoderInput(pq: Pq, centers: Array[(Int, Array[Double])]): Column =
    if (pq.residual) residualUdf(centers)(col("embedding"), col("cell"))
    else col("embedding")

  /** Cell rows (vec_id, embedding[, codes], cell) for `assigned`
    * (vec_id, embedding, cell) under `encoding`; residual codes are
    * taken against `centers`. */
  private def cellRows(assigned: DataFrame, encoding: Encoding,
      books: Seq[(Int, Int, Seq[Double])],
      centers: Array[(Int, Array[Double])]): DataFrame = encoding match {
    case Flat => assigned.select(col("vec_id"), col("embedding"), col("cell"))
    case pq: Pq =>
      val encode = PqIndex.encodeUdf(books, pq.m, books.head._3.length)
      assigned.select(col("vec_id"), col("embedding"),
        encode(encoderInput(pq, centers)).as("codes"), col("cell"))
  }

  /** Train the coarse quantizer (and, for [[Pq]], the codebooks),
    * then lay the corpus out as cell partitions. `embeddings` needs
    * (vec_id: long, embedding: array<float>).
    *
    * @param kCells coarse-quantizer cell count; 0 (the default)
    *        auto-sizes to [[defaultCells]] (~√n) — the r18 probe
    *        measured fixed-16 at 2M: every probe scans nProbe/16 of the
    *        corpus (see BASELINE.md r18).
    * @param trainSampleMod every KMeans fit (coarse and per-subspace)
    *        trains on vectors with hash(vec_id) % mod == 0
    *        (deterministic). 1 (default) trains on everything — fine at
    *        suite scale; at corpus scale SET THIS so the sample is
    *        ~thousands of vectors per cell: a quantizer's quality
    *        saturates there, and training must not scale with the
    *        corpus. Assignment and encoding always cover every vector.
    */
  def build(spark: SparkSession, embeddings: DataFrame, indexDir: String,
      kCells: Int = 0, encoding: Encoding = Flat, seed: Long = 42L,
      trainSampleMod: Int = 1): Unit = {
    require(trainSampleMod >= 1, s"trainSampleMod must be >= 1 (got $trainSampleMod)")
    require(kCells >= 0, s"kCells must be >= 0 (0 = auto ~sqrt(n)) (got $kCells)")
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val feat = embeddings.select(col("vec_id"), col("embedding"),
      toVec(col("embedding")).as("features"))
    val train =
      if (trainSampleMod == 1) feat
      else feat.filter(pmod(hash(col("vec_id")), lit(trainSampleMod)) === 0)
    // auto sizing clamps to the TRAINING sample (KMeans needs
    // k <= points); defaultCells is driven by the full corpus size
    val kEff = if (kCells > 0) kCells
      else math.min(defaultCells(embeddings.count()).toLong,
        math.max(2L, train.count())).toInt
    val coarse = new KMeans().setK(kEff).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell").fit(train)
    val centers = coarse.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    // codebooks train on the SAME signal the encoder quantizes (the
    // sample's residuals come from the same quantizer)
    val books = encoding match {
      case Flat => Nil
      case pq: Pq =>
        val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
        require(dim % pq.m == 0, s"dim $dim not divisible by m=${pq.m}")
        PqIndex.trainBooks(
          coarse.transform(train).select(encoderInput(pq, centers).as("embedding")),
          pq.m, pq.kSub, dim / pq.m, seed)
    }
    // cells land in `cells/v<N>`, named after the meta version about to
    // publish, so its commit flips quantizer, codebooks and cells
    // together: no reader (or crash) pairs new cells with the old
    // quantizer. The previous cells are retained for in-flight readers,
    // as Publish does.
    val fs = Publish.fs(spark, metaPath(indexDir))
    val prevCellsDir = loadMetaOpt(spark, indexDir).map(_.cellsDir)
    val cellsDir = publishMeta(spark, indexDir,
        centers.toSeq.map { case (i, c) => (i, c.toSeq) }, encoding, books) { v =>
      cellRows(coarse.transform(feat), encoding, books, centers)
        // one file per cell, not one per (writer task × cell): without
        // this, W tasks × k cells lays down W·k small files — measured
        // r18 at 2M/1414 cells: 45,135 files, and EVERY probe's scan
        // paid a flat ~16 s of listing/open overhead that swamped the
        // pruning win (BASELINE.md r18). The overwrite clears a failed
        // attempt's partial at this slot.
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells/$v")
      // probe stats are keyed by cell id; a rebuild renumbers cells, so
      // carried-over counts would misattribute — reset the log BEFORE the
      // meta flip: a crash in between loses only advisory stats, whereas
      // deleting after the publish leaves a window where old traffic is
      // pinned on unrelated new cells
      val statsP = new org.apache.hadoop.fs.Path(statsPath(indexDir))
      if (fs.exists(statsP)) fs.delete(statsP, true)
      s"cells/$v"
    }
    gcCellVersions(spark, indexDir, Set(cellsDir) ++ prevCellsDir)
  }

  /** Append new vectors: assign to the nearest EXISTING centroid and
    * (for [[Pq]]) encode with the EXISTING codebooks — growth with no
    * retrain, no rewrite, no meta change (re-`build` when drift
    * degrades recall). One file per touched cell per batch; a
    * long-lived ingest fragments, and [[compact]] heals it.
    */
  def add(spark: SparkSession, newVectors: DataFrame, indexDir: String): Unit = {
    val meta = loadMeta(spark, indexDir)
    val assign = nearestCells(meta.centers, 1)
    val assigned = newVectors.select(col("vec_id"), col("embedding"),
      assign(col("embedding")).getItem(0).as("cell"))
    cellRows(assigned, meta.encoding, meta.books, meta.centers)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(meta.cellsPath(indexDir))
  }

  /** Per-cell inverted-list sizes (one metadata-cheap aggregate),
    * restricted to the cells the committed meta routes to. */
  def cellSizes(spark: SparkSession, indexDir: String): Map[Int, Long] = {
    val meta = loadMeta(spark, indexDir)
    spark.read.parquet(meta.cellsPath(indexDir))
      .filter(col("cell").isin(meta.live: _*)) // partition-pruned; skips orphans
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Split ONE hot cell in place: train a 2-means on the cell's own
    * vectors, retire its centroid, add two fresh-id centroids, and
    * rewrite just that cell's list into the two new cell directories.
    * Cost: O(one cell), never O(index). Raw [[Pq]] codes ride along
    * unchanged; residual codes RE-ENCODE against their new half's
    * centroid with the same codebooks.
    *
    * Ordering: (1) write the two new cell dirs — no centroid routes
    * there yet; (2) publish the meta as a FRESH version (readers flip
    * at the commit marker and never see a partial table); (3) drop
    * the retired cell's dir. A rerun after a crash sweeps orphaned
    * dirs first, so no duplicates survive. LIMITATION: a reader that
    * resolved the PREVIOUS meta before step 3 probes the now-deleted
    * old cell and misses its vectors until it re-resolves; run splits
    * from the single writer.
    */
  def splitCell(spark: SparkSession, indexDir: String, cell: Int,
      seed: Long = 42L): Unit = {
    val meta = loadMeta(spark, indexDir)
    require(meta.centers.exists(_._1 == cell), s"no such cell $cell")
    val cells = meta.cellsPath(indexDir)
    // sweep first: removes BOTH a previous split's orphaned old dir
    // (crash between publish and delete) and this split's stale
    // partials from a crashed retry (fresh ids are never in meta)
    sweepOrphanCells(spark, cells, meta)
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    // partition-pruned read: exactly one cell directory
    val cellRowsDf = spark.read.parquet(cells)
      .filter(col("cell") === cell)
      .select(meta.rowCols :+ toVec(col("embedding")).as("features"): _*)
      .cache()
    val split = new KMeans().setK(2).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("half").fit(cellRowsDf)
    val base = meta.centers.map(_._1).max + 1
    val freshCenters = split.clusterCenters.zipWithIndex
      .map { case (c, i) => (base + i, c.toArray) }
    val rerouted = split.transform(cellRowsDf)
      .withColumn("cell", col("half") + base)
    val moved = meta.encoding match {
      case Pq(_, _, true) => cellRows(rerouted, meta.encoding, meta.books, freshCenters)
      case _ => rerouted.select(meta.rowCols :+ col("cell"): _*)
    }
    moved.repartition(col("cell")) // one file per fresh half
      .write.mode("append").partitionBy("cell").parquet(cells)
    publishMeta(spark, indexDir,
      meta.centers.filterNot(_._1 == cell).toSeq.map { case (i, c) => (i, c.toSeq) } ++
        freshCenters.map { case (i, c) => (i, c.toSeq) },
      meta.encoding, meta.books)(_ => meta.cellsDir)
    val fs = Publish.fs(spark, cells)
    val old = new org.apache.hadoop.fs.Path(s"$cells/cell=$cell")
    if (fs.exists(old)) fs.delete(old, true)
    cellRowsDf.unpersist()
  }

  /** OPTIMIZE for the inverted file: every incremental [[add]] lands
    * one parquet file per touched cell per batch, so a streaming
    * ingest fragments the cell dirs. Compaction rewrites the corpus
    * as ONE file per cell into a FRESH `cells/v<N>` and republishes
    * the meta (same centroids/encoding/codebooks) pointing at it — the
    * same atomic flip a rebuild uses, so a crash mid-compaction or an
    * in-flight reader keeps the old, complete version. Returns the
    * data-file count before compaction. Single-writer maintenance.
    */
  def compact(spark: SparkSession, indexDir: String): Long = {
    val meta = loadMeta(spark, indexDir)
    val cells = meta.cellsPath(indexDir)
    val fs = Publish.fs(spark, cells)
    val filesBefore = {
      def walk(p: org.apache.hadoop.fs.Path): Long =
        fs.listStatus(p).map { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.startsWith("_") ||
            s.getPath.getName.startsWith(".")) 0L
          else 1L
        }.sum
      walk(new org.apache.hadoop.fs.Path(cells))
    }
    val freshDir = publishMeta(spark, indexDir,
        meta.centers.toSeq.map { case (i, c) => (i, c.toSeq) }, meta.encoding, meta.books) { v =>
      spark.read.parquet(cells)
        .filter(col("cell").isin(meta.live: _*)) // orphans die with the old version
        .repartition(meta.live.size, col("cell")) // one task -> one file per cell
        .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells/$v")
      s"cells/$v"
    }
    gcCellVersions(spark, indexDir, Set(freshDir, meta.cellsDir))
    compactStats(spark, indexDir) // bound the probe-stats log too
    filesBefore
  }

  /** Split every cell whose list exceeds `factor` × the mean cell
    * size. Returns the cells split. */
  def rebalance(spark: SparkSession, indexDir: String,
      factor: Double = 2.0, seed: Long = 42L): Seq[Int] = {
    val sizes = cellSizes(spark, indexDir)
    if (sizes.isEmpty) return Nil
    val mean = sizes.values.sum.toDouble / sizes.size
    val hot = sizes.filter { case (_, n) => n > factor * mean && n >= 2 }
      .keys.toSeq.sorted
    hot.foreach(c => splitCell(spark, indexDir, c, seed))
    hot
  }

  private def statsPath(dir: String) = s"$dir/stats/probes"

  /** Fallback batch id for non-streaming recordProbes calls: millis
    * disambiguated by an in-process counter, so two ad-hoc calls in
    * the same millisecond get distinct `batch=` dirs instead of the
    * second overwriting the first's stats. */
  private val adhocSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def adhocId(): Long =
    System.currentTimeMillis() * 1000L + (adhocSeq.getAndIncrement() % 1000L)

  /** Log a query workload's probe routing into the index's stats
    * side-table (`stats/probes/batch=<id>`, one tiny aggregate row per
    * probed cell per call). The serving tier calls this on its query
    * log — e.g. per micro-batch from a `foreachBatch`, passing the
    * STREAMING BATCH ID: each id owns its own `batch=<id>` dir written
    * with overwrite, so a replayed micro-batch REWRITES its own stats
    * instead of double-counting (the same idempotency contract as
    * upsertBatch / StreamDecon batch dirs). Without a `batchId` the
    * call stamps wall-clock millis — still one dir per call, but a
    * replay then duplicates; fine for ad-hoc batch use, not for
    * checkpointed streams. Advisory only: stats never affect query
    * answers, and [[build]] resets them (a rebuild renumbers cells, so
    * carried-over counts would attribute old traffic to unrelated new
    * cells).
    */
  def recordProbes(spark: SparkSession, queries: DataFrame, indexDir: String,
      nProbe: Int = 4, batchId: Option[Long] = None): Unit = {
    val meta = loadMeta(spark, indexDir)
    val probe = nearestCells(meta.centers, nProbe)
    val id = batchId.getOrElse(adhocId())
    queries.select(explode(probe(col("embedding"))).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_probes"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"${statsPath(indexDir)}/batch=$id")
  }

  /** Accumulated probe counts per LIVE cell (cells retired by a split
    * drop out; their replacement halves start at zero and re-earn
    * their traffic). All-time sums — see [[probeTrafficWeighted]] for
    * the recency-decayed view. */
  def probeTraffic(spark: SparkSession, indexDir: String): Map[Int, Long] =
    probeTrafficWeighted(spark, indexDir, halfLifeBatches = None)
      .map { case (c, v) => c -> math.round(v) } // exact sums when undecayed

  /** Probe counts per live cell, optionally decayed by RECENCY so a
    * historical hotspot doesn't keep out-scoring current traffic:
    * with `halfLifeBatches = Some(h)`, a count recorded r batches ago
    * (r = rank of its `batch=` id among all recorded ids, newest = 0)
    * is weighted 0.5^(r/h). Rank-based, not id-difference-based, so
    * stream batch ids (0,1,2,…) and wall-clock millis decay on the
    * same scale: one recordProbes call = one tick.
    */
  def probeTrafficWeighted(spark: SparkSession, indexDir: String,
      halfLifeBatches: Option[Double]): Map[Int, Double] = {
    val fs = Publish.fs(spark, statsPath(indexDir))
    if (!fs.exists(new org.apache.hadoop.fs.Path(statsPath(indexDir)))) return Map.empty
    val live = loadMeta(spark, indexDir).live.toSet
    val df = spark.read.parquet(statsPath(indexDir))
    val weighted = halfLifeBatches match {
      case None => df.withColumn("w", col("n_probes").cast("double"))
      case Some(h) =>
        require(h > 0, s"halfLifeBatches must be > 0 (got $h)")
        // planning-scale metadata fetch: one distinct id per
        // recordProbes call, bounded by compactStats
        val ids = df.select(col("batch").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted.reverse
        val rank = typedlit(ids.zipWithIndex.map { case (id, r) => id -> r }.toMap)
        df.withColumn("w", col("n_probes") *
          pow(lit(0.5), element_at(rank, col("batch").cast("long")) / h))
    }
    weighted.groupBy(col("cell")).agg(sum(col("w")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .filter { case (c, _) => live(c) }.toMap
  }

  /** Bound the stats log: one `batch=` dir accrues per
    * [[recordProbes]] call, so a long-lived serving tier accumulates
    * small files without bound. Collapse every dir older than the
    * newest `keepRecent` into ONE dir re-stamped at the OLDEST
    * collapsed id — old traffic stays maximally old, so decayed views
    * only ever UNDER-weight collapsed history, never promote it —
    * dropping rows for retired cells on the way (their live-view
    * filter becomes physical). Advisory data, single-writer
    * maintenance: a crash between delete and rewrite loses only the
    * collapsed slice. Called from [[compact]]; harmless standalone.
    */
  def compactStats(spark: SparkSession, indexDir: String,
      keepRecent: Int = 16): Unit = {
    val sp = statsPath(indexDir)
    val fs = Publish.fs(spark, sp)
    if (!fs.exists(new org.apache.hadoop.fs.Path(sp))) return
    val ids = fs.listStatus(new org.apache.hadoop.fs.Path(sp))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).sorted
    if (ids.length <= keepRecent + 1) return
    val oldIds = ids.dropRight(keepRecent)
    val live = loadMeta(spark, indexDir).live
    // tiny aggregate (≤ one row per live cell) — collect, then rewrite
    val collapsed = spark.read.option("basePath", sp)
      .parquet(oldIds.map(id => s"$sp/batch=$id"): _*)
      .filter(col("cell").isin(live: _*))
      .groupBy(col("cell")).agg(sum(col("n_probes")).as("n_probes"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    oldIds.foreach(id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$sp/batch=$id"), true))
    if (collapsed.nonEmpty) {
      import spark.implicits._
      collapsed.toDF("cell", "n_probes").repartition(1)
        .write.mode("overwrite").parquet(s"$sp/batch=${oldIds.min}")
    }
  }

  /** [[query]] + [[recordProbes]] in one call — the serving-tier
    * shape: answer the batch AND log its routing so
    * [[rebalanceByTraffic]] sees real traffic. The stats write is one
    * tiny eager aggregate over the (small) query batch; the returned
    * probe plan stays lazy. */
  def queryAndRecord(spark: SparkSession, queries: DataFrame, indexDir: String,
      nProbe: Int = 4, topK: Int = 5, shortlist: Int = 0,
      broadcastQueries: Boolean = true, batchId: Option[Long] = None): DataFrame = {
    recordProbes(spark, queries, indexDir, nProbe, batchId)
    query(spark, queries, indexDir, nProbe, topK, shortlist, broadcastQueries)
  }

  /** Traffic-weighted rebalance: split the cells that dominate the
    * workload's SCAN cost, not merely the biggest ones. A probe of
    * cell c costs |c| rows, so c's share of total scan work is
    * probes(c) × size(c) — a mid-size cell a hot query region hammers
    * outweighs a giant cell nobody visits, and splitting the cold
    * giant (what size-based [[rebalance]] does) buys the workload
    * nothing. Splits every cell whose load exceeds `factor` × the
    * mean load; zero-traffic cells never split. Returns the cells
    * split.
    *
    * `halfLifeBatches` applies [[probeTrafficWeighted]]'s recency
    * decay, so a cell that WAS hammered many batches ago but is cold
    * now stops qualifying — without it, a big historical spike
    * out-scores live traffic forever and keeps splitting an idle
    * cell (IvfIndexSuite pins both behaviors).
    */
  def rebalanceByTraffic(spark: SparkSession, indexDir: String,
      factor: Double = 2.0, seed: Long = 42L,
      halfLifeBatches: Option[Double] = None): Seq[Int] = {
    val sizes = cellSizes(spark, indexDir)
    if (sizes.isEmpty) return Nil
    val traffic = probeTrafficWeighted(spark, indexDir, halfLifeBatches)
    val load = sizes.map { case (c, n) => c -> n.toDouble * traffic.getOrElse(c, 0.0) }
    val total = load.values.sum
    if (total == 0.0) return Nil // no recorded traffic: nothing is hot
    val mean = total / load.size
    val hot = load.filter { case (c, l) => l > factor * mean && sizes(c) >= 2 }
      .keys.toSeq.sorted
    hot.foreach(c => splitCell(spark, indexDir, c, seed))
    hot
  }

  /** Top-k cosine neighbors per query, probing nProbe cells.
    * `queries` needs (qid: long, embedding: array<float>); returns
    * (qid, rn, nid, cos_sim) — self-matches (qid == nid) excluded.
    *
    * One exact `fvec_dot` re-rank path, fed by every probed-cell row
    * for [[Flat]], and for [[Pq]] by the per-query ADC shortlist: the
    * probe ADC-scans ONLY the probed cells' codes (the native codegen
    * `pq_adc` expression over byte-packed codes — no UDF on the
    * corpus side) and keeps `shortlist` candidates per query (0 =
    * auto 40·topK; ignored for Flat).
    *
    * Two probe-join regimes, chosen by `broadcastQueries`:
    *
    *  - `true` (default — interactive/small batches): the query
    *    batch broadcasts, and dynamic partition pruning drops every
    *    unprobed cell directory from the cells scan — a probe reads
    *    ~nProbe/k of the corpus bytes (IvfIndexSuite pins the
    *    `dynamicpruning` filter in the plan). Correct while the
    *    batch is broadcast-sized; a forced broadcast of a huge batch
    *    would fail the job.
    *  - `false` (bulk batches, e.g. corpus-vs-corpus linking): plain
    *    shuffled hash joins on `cell` — no broadcast-size ceiling. No
    *    partition pruning, but a bulk batch probes essentially every
    *    cell anyway, so one full corpus pass is the optimal plan, and
    *    each (query, cell) probe still joins only that cell's list,
    *    never the cross product. Results are identical (suite-proven).
    */
  def query(spark: SparkSession, queries: DataFrame, indexDir: String,
      nProbe: Int = 4, topK: Int = 5, shortlist: Int = 0,
      broadcastQueries: Boolean = true): DataFrame = {
    graft.functions.FloatVecDot.register(spark)
    val meta = loadMeta(spark, indexDir)
    val probe = nearestCells(meta.centers, nProbe)
    def side(df: DataFrame) = if (broadcastQueries) broadcast(df) else df
    val vecs = spark.read.parquet(meta.cellsPath(indexDir))
      .select(col("cell"), col("vec_id").as("nid"), col("embedding").as("ne"))
    val candidates = meta.encoding match {
      case Flat =>
        side(queries.select(col("qid"), col("embedding").as("qe"),
            explode(probe(col("embedding"))).as("cell")))
          .join(vecs, "cell")
          .filter(col("qid") =!= col("nid"))
      case pq: Pq =>
        graft.functions.PqAdc.register(spark)
        val lut = PqIndex.lutUdf(meta.books, pq.m, pq.kSub, meta.books.head._3.length)
        // raw codes: one LUT per query row, computed BEFORE the probe
        // explode. Residual codes: the LUT is per (query, cell) — the
        // codebooks quantized x − centroid(cell), so the query shifts
        // by the same centroid; still only nProbe tiny UDF calls per
        // query.
        val q =
          if (!pq.residual) queries
            .select(col("qid"), col("embedding").as("qe"), lut(col("embedding")).as("lut"),
              explode(probe(col("embedding"))).as("cell"))
          else queries
            .select(col("qid"), col("embedding").as("qe"),
              explode(probe(col("embedding"))).as("cell"))
            .withColumn("lut", lut(residualUdf(meta.centers)(col("qe"), col("cell"))))
        // ADC side reads (cell, vec_id, codes) — column pruning drops
        // the embedding bytes from the probed cells' scan (suite-asserted)
        val codes = spark.read.parquet(meta.cellsPath(indexDir))
          .select(col("cell"), col("vec_id").as("nid"), col("codes"))
        // shortlist 0 = auto 40·topK: the r18 2M probe measured the old
        // fixed 50 (10·topK) CUTTING true rank-3..5 neighbors out of the
        // ADC shortlist (recall@5 0.72), while 40·topK restores 0.988 at
        // the SAME latency — the shortlist is candidates per query, so
        // its cost is corpus-size-independent
        val depth = if (shortlist > 0) shortlist else 40 * topK
        val short = side(q).join(codes, "cell")
          .filter(col("qid") =!= col("nid"))
          .withColumn("adc_dist", expr("pq_adc(codes, lut)"))
          .withColumn("_sr", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("nid"))))
          .filter(col("_sr") <= depth)
          .select(col("qid"), col("qe"), col("cell"), col("nid"))
        // exact re-rank joins back on (cell, nid): the embedding read
        // is partition-bounded to the probed cells too
        side(short).join(vecs, Seq("cell", "nid"))
    }
    candidates
      .select(col("qid"), col("nid"),
        round(expr("fvec_dot(qe, ne)"), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"))
      .orderBy("qid", "rn")
  }
}
