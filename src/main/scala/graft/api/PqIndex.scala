package graft.api

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization encoder behind [[IvfIndex]]'s `Pq` cell
  * encoding — the memory-bounded representation that makes
  * billion-vector search feasible: each d-dim float vector is stored
  * as `m` BYTE-PACKED codes (one byte per contiguous subspace, k ≤ 256
  * centroids each), shrinking d×4 bytes to m bytes — 64-dim float32 →
  * 8 bytes, a 32× reduction, whether k is 16 or the full 256 (so
  * k=256's 16× finer codebooks are FREE storage-wise; the suite pins
  * that its recall dominates k=16). Queries run ADC (asymmetric
  * distance computation): the query stays exact, each corpus vector's
  * distance is approximated as the sum of per-subspace distances
  * between the query sub-vector and the corpus code's centroid — a
  * table lookup.
  *
  * Spark-first shape:
  *  - codebooks: m independent KMeans fits on a deterministic
  *    hash-gated SAMPLE (training cost never scales with the corpus;
  *    the codebooks are m×k×(d/m) doubles — broadcast-sized always);
  *  - encoding: one linear pass, codes as a binary column of m bytes;
  *  - ADC scan: the per-query lookup table is computed ONCE per query
  *    row (tiny UDF over the query batch), then the hot loop —
  *    millions of corpus rows — is the native codegen
  *    [[graft.functions.PqAdc]] expression (Spark has no HOFs over
  *    binary; unpacking to array<int> at scan time would undo the
  *    packing), no UDF.
  *
  * Codebooks are (subspace, code, center) rows, sorted by
  * (subspace, code).
  */
object PqIndex {

  /** Train the `m` per-subspace codebooks on `train` (already
    * sample-gated by the caller): `m` small, independent KMeans fits
    * on the subvectors. Returns (subspace, code, center) rows.
    */
  private[api] def trainBooks(train: DataFrame, m: Int, k: Int, sub: Int,
      seed: Long): Seq[(Int, Int, Seq[Double])] = {
    val toVec = udf((a: Seq[Float], j: Int) =>
      Vectors.dense(a.slice(j * sub, (j + 1) * sub).map(_.toDouble).toArray))
    (0 until m).flatMap { j =>
      val feat = train.select(toVec(col("embedding"), lit(j)).as("features"))
      new KMeans().setK(k).setSeed(seed + j)
        .setFeaturesCol("features").setPredictionCol("c").fit(feat)
        .clusterCenters.zipWithIndex
        .map { case (c, ci) => (j, ci, c.toArray.toSeq) }
    }
  }

  /** Encoder UDF: nearest sub-centroid id per subspace (one BYTE per
    * subspace — unsigned, so ids up to 255), one linear pass per
    * vector. Codebooks pre-grouped by subspace so the per-row loop
    * indexes straight into its subspace's centroids (O(m·k·sub) per
    * vector).
    */
  private[api] def encodeUdf(books: Seq[(Int, Int, Seq[Double])], m: Int, sub: Int) = {
    val bySub: Array[Array[(Int, Array[Double])]] = books
      .map { case (j, ci, c) => (j, ci, c.toArray) }
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, cs) => cs.map(t => (t._2, t._3)).toArray }
    udf((a: Seq[Float]) =>
      (0 until m).map { j =>
        val v = a.slice(j * sub, (j + 1) * sub).map(_.toDouble).toArray
        bySub(j).minBy { case (_, c) =>
          var d = 0.0; var i = 0
          while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
          d
        }._1.toByte
      }.toArray)
  }

  /** Per-QUERY ADC lookup table: lut[j*k + c] = ||q_j - center(j,c)||².
    * A UDF is fine here — it runs once per query row, not per corpus
    * row. A subspace's KMeans may return FEWER than k centers (near-
    * constant subvectors): those code slots are unreferenced by any
    * encoded vector, so any finite filler value is correct.
    */
  private[api] def lutUdf(books: Seq[(Int, Int, Seq[Double])],
      m: Int, k: Int, sub: Int) = {
    val byCode = books.map { case (j, c, cen) => (j, c) -> cen.toArray }.toMap
    udf((a: Seq[Float]) =>
      (0 until m).flatMap { j =>
        val v = a.slice(j * sub, (j + 1) * sub).map(_.toDouble).toArray
        (0 until k).map { c =>
          byCode.get((j, c)).fold(Double.MaxValue) { cen =>
            var d = 0.0; var i = 0
            while (i < v.length) { val t = v(i) - cen(i); d += t * t; i += 1 }
            d
          }
        }
      })
  }

  private[api] def loadBooks(spark: SparkSession, path: String): Seq[(Int, Int, Seq[Double])] =
    spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSeq.sortBy(t => (t._1, t._2))
}
