package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.IvfIndex

/** Scale probe for the IVF family (VERDICT r17 Next-round #1): builds
  * a persisted [[IvfIndex]] (family `ivf` = Flat cells, `ivfpq` = Pq
  * cells) for a data dir ONCE
  * (timed separately), then times `query` min-of-3 per query-batch
  * size and measures planted recall@5 vs brute force — the SAME
  * protocol as GraphAnnProbe ([[AnnRecallKit]]), so BASELINE.md can
  * grade the three ANN families against each other at 200k and 2M on
  * identical corpora and queries.
  *
  * Why this exists: twice (r16 graph-ANN recall 0.97→0.02 at scale;
  * r17 fixed entry counts 0.98→0.456) a fixture-scale ANN number hid
  * qualitative failure, and the IVF family's recall floors rested on
  * the 500-vector fixture while its coarse quantizer defaulted to a
  * FIXED kCells=16 — at 2M vectors, nProbe 4/16 scans 25% of the
  * corpus per query. This probe is the third-decade measurement; the
  * auto (~√n) default it justifies lives in
  * [[IvfIndex.defaultCells]].
  *
  * Usage: `runMain graft.tools.IvfProbe [dataDir] [indexDir]
  * [family: ivf|ivfpq] [kCells (0 = auto √n)] [nProbe]
  * [batchSizes e.g. 50,200,800] [recallSample]`
  *
  * Env: `GRAFT_IVF_REUSE=1` probe an existing index without
  * rebuilding (it keeps the encoding it was built with, whatever
  * `family` says); `GRAFT_IVF_TRAIN_MOD` overrides the quantizer-training
  * sample gate (default: corpus/100k, so training never exceeds
  * ~100k vectors — a coarse quantizer's quality saturates at
  * thousands of vectors per cell); `GRAFT_IVF_SHORTLIST` the IVF-PQ
  * ADC shortlist (default 0 = the API's auto 40·topK).
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val dataDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val indexDir = args.lift(1).getOrElse("/tmp/graft_ivf_probe")
    val family = args.lift(2).getOrElse("ivf")
    val kCells = args.lift(3).map(_.toInt).getOrElse(0)
    val nProbe = args.lift(4).map(_.toInt).getOrElse(4)
    val batches = args.lift(5).getOrElse("50").split(",").map(_.trim.toInt).toSeq
    val recallSample = args.lift(6).map(_.toInt).getOrElse(0)
    val encoding = family match {
      case "ivf" => IvfIndex.Flat
      case "ivfpq" => IvfIndex.Pq()
      case _ => throw new IllegalArgumentException(s"family must be ivf|ivfpq (got $family)")
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "131072")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shortlist = sys.env.getOrElse("GRAFT_IVF_SHORTLIST", "0").toInt // 0 = API auto (40·topK)
    val e = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val n = e.count()
    val trainMod = sys.env.get("GRAFT_IVF_TRAIN_MOD").map(_.toInt)
      .getOrElse(math.max(1L, n / 100000L).toInt)
    val reuse = sys.env.get("GRAFT_IVF_REUSE").contains("1") &&
      IvfIndex.hasIndex(spark, indexDir)
    val t0 = System.nanoTime()
    if (!reuse)
      IvfIndex.build(spark, e, indexDir, kCells = kCells, encoding = encoding,
        trainSampleMod = trainMod)
    val buildSec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    val sizes = IvfIndex.cellSizes(spark, indexDir)
    val kActual = sizes.size
    val maxCell = if (sizes.isEmpty) 0L else sizes.values.max
    def searched(q: org.apache.spark.sql.DataFrame) =
      IvfIndex.query(spark, q, indexDir, nProbe = nProbe, topK = 5,
        shortlist = shortlist)
    println(f"""{"probe":"${family}_build","data":"$dataDir","n_vectors":$n,"k_cells":$kActual,"n_probe":$nProbe,"train_mod":$trainMod,"build_save_sec":$buildSec%.3f,"max_cell":$maxCell,"mean_cell":${n.toDouble / math.max(kActual, 1)}%.0f}""")
    for (nQ <- batches) {
      val q = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding"))
        .localCheckpoint(true) // query-set prep is not probe cost
      val probes = (1 to 3).map { _ =>
        val p0 = System.nanoTime()
        searched(q).count()
        val t = (System.nanoTime() - p0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"""{"probe":"${family}_batch","data":"$dataDir","n_vectors":$n,"k_cells":$kActual,"n_probe":$nProbe,"n_queries":$nQ,"probe_sec_min3":${probes.min}%.3f,"per_query_ms":${probes.min * 1000 / nQ}%.2f,"probe_reps":[${probes.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    if (recallSample > 0) {
      val k = 5
      val q = AnnRecallKit.plantedQueries(e.filter(col("vec_id") < recallSample))
        .localCheckpoint(true)
      val got = searched(q)
        .select(col("qid"), col("nid")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val (wantIds, want1) = AnnRecallKit.bruteTopK(spark, q, e, k)
      val (mean, min, r1) = AnnRecallKit.recall(got, wantIds, want1)
      println(f"""{"probe":"${family}_recall","data":"$dataDir","n_vectors":$n,"k_cells":$kActual,"n_probe":$nProbe,"sample":$recallSample,"k":$k,"mode":"plant","mean_recall":$mean%.4f,"min_recall":$min%.4f,"recall_at_1":$r1%.4f}""")
    }
    spark.stop()
  }
}
