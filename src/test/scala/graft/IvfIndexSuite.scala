package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.api.IvfIndex
import graft.api.IvfIndex.{Encoding, Flat, Pq}
import graft.queries.LlmPipeline

/** Persisted IVF index lifecycle, once per cell encoding: build →
  * probe-pruned query → exact re-rank → grow / split / compact /
  * rebuild without losing a vector. The plan assertions are the 100 TB
  * claim: a probe must (1) skip unprobed cell directories and (2) for
  * PQ cells, read only the CODE bytes of the cells it ADC-scans, not
  * the embeddings.
  */
class IvfIndexSuite extends GraftSuite {

  private val encodings: Seq[(String, Encoding)] =
    Seq("flat" -> Flat, "pq" -> Pq(), "pq residual" -> Pq(residual = true))

  private def emb: DataFrame = Tables.embeddings(spark, sf0001)

  private def build(e: Encoding, kCells: Int, seed: Long = 42L): String = {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    IvfIndex.build(spark, emb, dir, kCells = kCells, encoding = e, seed = seed)
    dir
  }

  // one read-only kCells = 16 index per encoding, shared by the tests
  // that never mutate it
  private val shared = scala.collection.mutable.Map[Encoding, String]()
  private def sharedIndex(e: Encoding): String = shared.getOrElseUpdate(e, build(e, 16))

  private def queryBatch = emb.filter(col("vec_id") < 50)
    .select(col("vec_id").as("qid"), col("embedding"))

  private def recallAt5(got: Array[Row]): Double = {
    val exact = LlmPipeline.qSimCosineTopk(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = got.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, want) =>
      ann.get(q).map(g => g.intersect(want).size.toDouble / want.size).getOrElse(0.0)
    }
    recalls.sum / recalls.size
  }

  /** vec_id -> (cell[, codes]) of the rows in a cells version. */
  private def placement(dir: String, e: Encoding, v: String = "v1"): Map[Long, Seq[Any]] = {
    val cols = Seq("vec_id", "cell") ++ (if (e == Flat) Nil else Seq("codes"))
    spark.read.parquet(s"$dir/cells/$v").select(cols.map(col): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toMap
  }

  private def versions(dir: String): Seq[String] = new java.io.File(dir).listFiles
    .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq

  encodings.foreach { case (label, e) =>
    // Flat re-ranks every probed row exactly; PQ shortlists by ADC
    // first, and its floor is the old composed IVF->PQ baseline's
    val floor = if (e == Flat) 0.5 else 0.4

    test(s"build + query: recall@5 >= $floor vs exact cosine top-k, 4/16 cells probed ($label)") {
      val mean = recallAt5(
        IvfIndex.query(spark, queryBatch, sharedIndex(e), nProbe = 4, topK = 5).collect())
      assert(mean >= floor, f"mean recall@5 $mean%.2f (probing 4/16 cells; random ~0.25)")
    }

    test(s"probe scan is partition-pruned to the probed cells (dynamic pruning on cell) ($label)") {
      val plan = IvfIndex.query(spark, queryBatch, sharedIndex(e))
        .queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"cells scan must carry a dynamic partition-pruning filter on cell:\n$plan")
      if (e != Flat) {
        // the codes-side FileScan must project (vec_id, codes) only —
        // parquet column pruning keeps embedding bytes out of the ADC pass
        val codeScans = plan.linesIterator
          .filter(l => l.contains("ReadSchema") && l.contains("codes"))
        assert(codeScans.exists(!_.contains("embedding")),
          s"ADC scan must not read the embedding column:\n$plan")
      }
    }

    test(s"bulk path: shuffled cell join (no broadcast) returns identical results ($label)") {
      val dir = sharedIndex(e)
      val want = IvfIndex.query(spark, queryBatch, dir).collect().toSeq
      // force the regime a too-big-to-broadcast batch lands in: hint off
      // AND AQE/static broadcast planning disabled
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val dfq = IvfIndex.query(spark, queryBatch, dir, broadcastQueries = false)
        val plan = dfq.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"non-broadcast path must plan shuffled joins:\n$plan")
        assert(dfq.collect().toSeq == want,
          "shuffled-join probe must return exactly the broadcast-path results")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }

    test(s"exact re-rank scores are true cosines (bit-equal to fvec_dot on the originals) ($label)") {
      val out = IvfIndex.query(spark, queryBatch.filter(col("qid") < 5), sharedIndex(e),
        topK = 3, shortlist = 20).collect()
      val vecs = emb.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
      assert(out.nonEmpty)
      out.foreach { r =>
        val (q, n) = (vecs(r.getAs[Long]("qid")), vecs(r.getAs[Long]("nid")))
        val dot = q.zip(n).map { case (a, b) => a.toDouble * b.toDouble }.sum
        assert(math.abs(r.getAs[Double]("cos_sim") - BigDecimal(dot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      }
    }

    test(s"add: new vectors join without retraining, land with their twins, and are found ($label)") {
      // own index dir: mutating the shared one would make the other
      // tests order-dependent
      val dir = build(e, 16)
      // clone 3 corpus vectors under fresh ids — their nearest neighbor
      // is their twin at cos ~1.0, so top-1 must find them
      val clones = emb.filter(col("vec_id").isin(100L, 200L, 300L))
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      IvfIndex.add(spark, clones, dir)
      // same quantizer (and codebooks, deterministic encoder): a clone
      // carries its twin's exact (cell[, codes])
      val rows = placement(dir, e)
      Seq(100L, 200L, 300L).foreach { id =>
        assert(rows(id) == rows(id + 100000L),
          s"clone of $id must carry its twin's placement: ${rows(id)} vs ${rows(id + 100000L)}")
      }
      val probes = emb.filter(col("vec_id").isin(100L, 200L, 300L))
        .select(col("vec_id").as("qid"), col("embedding"))
      val top1 = IvfIndex.query(spark, probes, dir, nProbe = 4, topK = 1)
        .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
      Seq(100L, 200L, 300L).foreach { id =>
        assert(top1(id) == id + 100000L,
          s"clone of $id must be its own top-1 after add (got ${top1(id)})")
      }
    }

    test(s"splitCell/rebalance: hot cell splits in place, no vector lost, meta republishes ($label)") {
      val dir = build(e, 8)
      val before = IvfIndex.cellSizes(spark, dir)
      val placed = placement(dir, e)
      val hot = before.maxBy(_._2)._1
      IvfIndex.splitCell(spark, dir, hot)
      val after = IvfIndex.cellSizes(spark, dir)
      // the hot cell is gone, replaced by exactly two fresh-id cells
      assert(!after.contains(hot), "retired cell id must vanish")
      assert(after.size == before.size + 1)
      val fresh = after.keySet diff before.keySet
      assert(fresh.size == 2 && fresh.forall(_ > before.keys.max))
      assert(fresh.toSeq.map(after).sum == before(hot), "split conserves the cell's vectors")
      // no vector lost or duplicated across the whole index; only the
      // split cell's rows moved
      val ids = spark.read.parquet(s"$dir/cells/v1").select("vec_id").collect().map(_.getLong(0))
      assert(ids.length == placed.size && ids.toSet == placed.keySet)
      val placedAfter = placement(dir, e)
      val moved = placed.filter(_._2.head == hot).keySet
      assert(placed.keySet.diff(moved).forall(id => placedAfter(id) == placed(id)),
        "rows outside the split cell must not be touched")
      e match {
        case Pq(_, _, false) =>
          // raw codes are cell-independent: the split re-routes, never re-encodes
          assert(moved.forall(id => placedAfter(id).last == placed(id).last),
            "splitCell must re-route raw-code rows, never re-encode")
        case Pq(_, _, true) =>
          assert(moved.exists(id => placedAfter(id).last != placed(id).last),
            "residual split must re-encode against the tighter half centroids")
        case Flat =>
      }
      // meta flipped v1 -> v2 with v1 retained for in-flight readers
      assert(versions(s"$dir/meta") == Seq("v1", "v2"))
      val res = IvfIndex.query(spark, queryBatch, dir, nProbe = 3, topK = 3).collect()
      assert(res.nonEmpty && res.forall(_.getAs[Long]("qid") < 50))
      // rebalance: nothing qualifies at a generous threshold (no-op)
      assert(IvfIndex.rebalance(spark, dir, factor = 100.0) == Nil)
    }

    test(s"compact: one file per cell in a fresh version; answers identical; live prev dir retained ($label)") {
      val dir = build(e, 8) // meta v1 -> cells/v1
      // split bumps meta to v2 WITHOUT bumping the cells dir — the case
      // where version-arithmetic GC would wrongly delete the live dir
      IvfIndex.splitCell(spark, dir, IvfIndex.cellSizes(spark, dir).maxBy(_._2)._1)
      // fragment the cells with incremental adds
      (1 to 3).foreach { i =>
        IvfIndex.add(spark, emb.filter(col("vec_id") < 30)
          .select((col("vec_id") + i * 1000000L).as("vec_id"), col("embedding")), dir)
      }
      val want = IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq
      val sizesBefore = IvfIndex.cellSizes(spark, dir)
      def filesPerCell(v: String) = new java.io.File(s"$dir/cells/$v").listFiles
        .filter(_.getName.startsWith("cell="))
        .map(d => d.listFiles.count(_.getName.endsWith(".parquet")))
      assert(filesPerCell("v1").exists(_ > 1), "adds must have fragmented some cell")
      val reported = IvfIndex.compact(spark, dir) // meta v3 -> cells/v3
      assert(reported > sizesBefore.size, s"pre-compact file count $reported must exceed cells")
      assert(versions(s"$dir/cells") == Seq("v1", "v3"),
        "previous LIVE cells dir (v1) must be retained for in-flight readers")
      val perCell = filesPerCell("v3")
      assert(perCell.nonEmpty && perCell.forall(_ == 1),
        s"one file per cell after compaction: ${perCell.toSeq}")
      assert(IvfIndex.cellSizes(spark, dir) == sizesBefore,
        "compaction must not change cell membership")
      assert(IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq == want,
        "compaction must not change answers")
    }

    test(s"rebuild: fresh cells version flips atomically with meta; in-flight reader unaffected ($label)") {
      val dir = build(e, 8)
      val want = IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq
      // a reader that resolved the index before the rebuild: its
      // centroids and cell files are the v1 pair
      val inFlight = IvfIndex.query(spark, queryBatch, dir, topK = 3)
      IvfIndex.build(spark, emb, dir, kCells = 16, encoding = e, seed = 43L)
      assert(versions(s"$dir/cells") == Seq("v1", "v2"),
        "previous cells version must be retained for in-flight readers")
      assert(inFlight.collect().toSeq == want,
        "a rebuild must not change what an in-flight reader of the old version sees")
      assert(IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().nonEmpty,
        "rebuilt index must answer")
      // same build inputs -> same answers regardless of which version
      IvfIndex.build(spark, emb, dir, kCells = 8, encoding = e, seed = 42L)
      assert(versions(s"$dir/cells") == Seq("v2", "v3"), "older cells versions are GC'd")
      assert(IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq == want,
        "identical build params must reproduce identical answers after rebuilds")
    }
  }

  test("a rebuild that fails while writing its cells leaves the previous index answering; the retry takes its slot") {
    val dir = build(Flat, 8)
    val want = IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq
    // a 1-dim vector outside the half the quantizer trains on: training
    // succeeds, and assigning it a cell fails the cells write's tasks
    // (a range, not a local relation, so planning cannot fold it early)
    val poisonId: Long = spark.range(1000000L, 1000100L)
      .filter(pmod(hash(col("id")), lit(2)) =!= 0).head()
    val poisoned = emb.select("vec_id", "embedding").unionByName(
      spark.range(poisonId, poisonId + 1)
        .select(col("id").as("vec_id"), array(lit(1.0f)).as("embedding")))
    val failed = intercept[Exception] {
      IvfIndex.build(spark, poisoned, dir, kCells = 8, trainSampleMod = 2)
    }
    assert(failed.getMessage.contains("same length"), s"the cells write must fail: $failed")
    assert(versions(s"$dir/meta") == Seq("v1"), "a failed rebuild publishes no meta")
    assert(IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq == want,
      "the previous index must keep answering after a failed rebuild")
    IvfIndex.build(spark, emb, dir, kCells = 8)
    assert(versions(s"$dir/cells") == Seq("v1", "v2"))
    assert(IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().toSeq == want,
      "the retry rebuilds the same index in the failed attempt's slot")
  }

  test("defaultCells: ~sqrt(n) with floor 16 and cap 65536 (r18 probe-measured sizing)") {
    // the r18 IVF probe measured the fixed-16 trap at 2M (probe cost
    // ~ n/16 per query, 130 ms/q) vs sqrt(n) cells (3.7 ms/q, recall
    // 0.99 at nProbe 16) — these pins keep the sizing rule honest
    assert(IvfIndex.defaultCells(500) == 22)
    assert(IvfIndex.defaultCells(100) == 16) // floor
    assert(IvfIndex.defaultCells(200000) == 447)
    assert(IvfIndex.defaultCells(2000000) == 1414)
    assert(IvfIndex.defaultCells(8L * 1000 * 1000 * 1000 * 1000) == 65536) // cap
  }

  test("auto cell count (k = 0): build sizes to defaultCells clamped by the train sample; query works") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    IvfIndex.build(spark, emb, dir, seed = 42L)
    val n = emb.count()
    // kEff == defaultCells(n) cells trained (fixture is small enough
    // that every cell is non-degenerate but KMeans may leave a cell
    // empty — sizes counts non-empty cells only)
    val sizes = IvfIndex.cellSizes(spark, dir)
    assert(sizes.size <= IvfIndex.defaultCells(n) && sizes.size >= 2,
      s"expected <= ${IvfIndex.defaultCells(n)} non-empty cells, got ${sizes.size}")
    assert(sizes.values.sum == n, "every vector must land in exactly one cell")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IvfIndex.query(spark, probes, dir, nProbe = 4, topK = 3).collect()
    assert(got.length > 0, "auto-sized index must answer queries")
  }

  test("pq codes are m BYTES per vector — the 32x storage story, at k=16 and k=256 alike") {
    val dir = sharedIndex(Pq())
    val codes = spark.read.parquet(s"$dir/cells/v1")
    assert(codes.count() == emb.count())
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType, "codes column must be binary")
    val r = codes.select(octet_length(col("codes")).as("m")).agg(max("m"), min("m")).head()
    assert(r.getInt(0) == 8 && r.getInt(1) == 8, "exactly m=8 bytes per vector")
    val allCodes = codes.collect().flatMap(_.getAs[Array[Byte]]("codes")).map(_ & 0xFF)
    assert(allCodes.forall(c => c >= 0 && c < 16), "k=16 codes use only ids 0..15")
    assert(spark.read.parquet(s"$dir/meta/v1/codebooks").count() == 8 * 16,
      "m x k codebook entries")
    assert(new java.io.File(s"$dir/meta/v1/_graft_committed").exists,
      "codebooks publish with the centroids as one committed version")
  }

  // The two checks below scan EVERY cell (nProbe = kCells): Spark's
  // KMeans needs k > 1, so a single-cell "flat codes table" cannot be
  // built; probing all cells is the same ADC scan over the whole corpus.
  test("pq ADC shortlist + exact re-rank over every cell: recall@5 well above random") {
    val mean = recallAt5(IvfIndex.query(spark, queryBatch, sharedIndex(Pq()),
      nProbe = 16, topK = 5, shortlist = 50).collect())
    // random 50-of-499 shortlist would give ~0.10 recall@5; the ADC
    // shortlist must concentrate true neighbors
    assert(mean >= 0.5, f"PQ mean recall@5 $mean%.2f (random-shortlist baseline ~0.10)")
  }

  test("pq k=256: the full unsigned-byte code range is live and recall does not regress") {
    val dir = build(Pq(kSub = 256), 16)
    val codes = spark.read.parquet(s"$dir/cells/v1")
    val widths = codes.select(octet_length(col("codes")).as("m"))
      .agg(max("m"), min("m")).head()
    assert(widths.getInt(0) == 8 && widths.getInt(1) == 8,
      "k=256 codes are STILL m=8 bytes (that is the point of byte packing)")
    // codes above 127 exercise the unsigned mask in pq_adc; codes
    // above 15 prove the larger codebook actually trained
    val allCodes = codes.collect().flatMap(_.getAs[Array[Byte]]("codes")).map(_ & 0xFF)
    assert(allCodes.exists(_ > 127), "expected codes in the signed-negative byte range")
    val r256 = recallAt5(IvfIndex.query(spark, queryBatch, dir,
      nProbe = 16, topK = 5, shortlist = 50).collect())
    val r16 = recallAt5(IvfIndex.query(spark, queryBatch, sharedIndex(Pq()),
      nProbe = 16, topK = 5, shortlist = 50).collect())
    assert(r256 >= r16 - 0.02,
      f"k=256 recall $r256%.2f must not regress vs k=16's $r16%.2f")
    assert(r256 >= 0.5, f"k=256 recall@5 $r256%.2f below floor")
  }

  test("traffic rebalance: splits the hot-PROBED cell, leaves the bigger cold cell alone") {
    val dir = build(Pq(), 8)
    val sizes = IvfIndex.cellSizes(spark, dir)
    val coldGiant = sizes.maxBy(_._2)._1
    // pick a mid-size cell (not the biggest) and hammer it: its own
    // members as queries at nProbe=1 route straight back to it
    val hot = sizes.filter { case (c, n) => c != coldGiant && n >= 2 }.maxBy(_._2)._1
    val hotMembers = spark.read.parquet(s"$dir/cells/v1")
      .filter(col("cell") === hot)
      .select(col("vec_id").as("qid"), col("embedding"))
    assert(IvfIndex.rebalanceByTraffic(spark, dir) == Nil,
      "no recorded traffic must mean no splits")
    // the serving-tier wrapper answers AND logs in one call
    assert(IvfIndex.queryAndRecord(spark, hotMembers, dir, nProbe = 1, topK = 1)
      .collect().nonEmpty, "queryAndRecord must still answer")
    // reset stats for the exact-count check below
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/stats"))
    IvfIndex.recordProbes(spark, hotMembers, dir, nProbe = 1)
    assert(IvfIndex.probeTraffic(spark, dir) == Map(hot -> sizes(hot)),
      "nProbe=1 self-probes must all route back to the members' own cell")
    val split = IvfIndex.rebalanceByTraffic(spark, dir, factor = 2.0)
    assert(split == Seq(hot), s"only the hot-probed cell splits (got $split)")
    val after = IvfIndex.cellSizes(spark, dir)
    // the size-based criterion would have gone for the cold giant first
    assert(after.contains(coldGiant) && after(coldGiant) == sizes(coldGiant),
      "the bigger but unprobed cell must be untouched")
    assert(!after.contains(hot), "the hot cell id retires into two halves")
    // retired cell's stats drop out of the live view; halves start at 0
    assert(IvfIndex.probeTraffic(spark, dir).isEmpty)
    // and the index still answers
    assert(IvfIndex.query(spark, queryBatch, dir, topK = 3).collect().nonEmpty)
  }

  test("probe stats: batchId replays overwrite (no double-count); decay splits the RECENTLY hot cell, not the historical one") {
    val dir = build(Pq(), 8)
    val sizes = IvfIndex.cellSizes(spark, dir)
    // two mid-size cells with members to use as self-routing queries
    val candidates = sizes.filter(_._2 >= 2).toSeq.sortBy(-_._2).map(_._1)
    val (histCell, recentCell) = (candidates(0), candidates(1))
    def members(c: Int) = spark.read.parquet(s"$dir/cells/v1")
      .filter(col("cell") === c)
      .select(col("vec_id").as("qid"), col("embedding"))

    // replay idempotency: the same streaming batch id delivered twice
    // must leave the stats as if delivered once
    IvfIndex.recordProbes(spark, members(histCell), dir, nProbe = 1, batchId = Some(0L))
    val once = IvfIndex.probeTraffic(spark, dir)
    IvfIndex.recordProbes(spark, members(histCell), dir, nProbe = 1, batchId = Some(0L))
    assert(IvfIndex.probeTraffic(spark, dir) == once,
      "a replayed batchId must overwrite its own stats, not double-count")

    // history: hammer histCell across batches 1..9; then the workload
    // MOVES — recentCell earns batches 10..15
    (1L to 9L).foreach(b =>
      IvfIndex.recordProbes(spark, members(histCell), dir, nProbe = 1, batchId = Some(b)))
    (10L to 15L).foreach(b =>
      IvfIndex.recordProbes(spark, members(recentCell), dir, nProbe = 1, batchId = Some(b)))
    // undecayed view: history still dominates — histCell is at least
    // as big AND has 10 recorded batches vs 6: the stale-hotspot trap
    val allTime = IvfIndex.probeTraffic(spark, dir)
    assert(allTime(histCell).toDouble * sizes(histCell) >
           allTime(recentCell).toDouble * sizes(recentCell),
      s"setup must make the HISTORICAL cell the all-time load winner ($allTime)")
    // decayed rebalance: history sits 6+ ranks behind the newest
    // -> weight <= 2^-6; only the recently hot cell qualifies
    val split = IvfIndex.rebalanceByTraffic(spark, dir, factor = 2.0,
      halfLifeBatches = Some(1.0))
    assert(split == Seq(recentCell),
      s"decay must split the recently hot cell only (got $split)")
    assert(IvfIndex.cellSizes(spark, dir).contains(histCell),
      "the historically hot but now-cold cell must be untouched")
  }

  test("compactStats: collapses old batch dirs, preserves all-time totals, drops retired cells") {
    val dir = build(Pq(), 8)
    val sizes = IvfIndex.cellSizes(spark, dir)
    val cs = sizes.filter(_._2 >= 2).toSeq.sortBy(-_._2).map(_._1)
    val (keep, retire) = (cs(0), cs(1))
    def mem(c: Int) = spark.read.parquet(s"$dir/cells/v1").filter(col("cell") === c)
      .select(col("vec_id").as("qid"), col("embedding"))
    // 20 one-cell batches: `keep` on even ids, `retire` on odd ids
    (0L until 20L).foreach { b =>
      val c = if (b % 2 == 0) keep else retire
      IvfIndex.recordProbes(spark, mem(c), dir, nProbe = 1, batchId = Some(b))
    }
    IvfIndex.splitCell(spark, dir, retire) // its stats rows become droppable history
    val before = IvfIndex.probeTraffic(spark, dir) // live view: keep only
    assert(before.keySet == Set(keep))
    def batchDirs() = new java.io.File(s"$dir/stats/probes").listFiles
      .map(_.getName).filter(_.startsWith("batch="))
    assert(batchDirs().length == 20)
    IvfIndex.compactStats(spark, dir, keepRecent = 4)
    // ids 0..15 collapse into batch=0; 16..19 survive as-is
    assert(batchDirs().length == 5,
      s"expected 1 collapsed + 4 recent dirs, got ${batchDirs().toSeq.sorted}")
    assert(IvfIndex.probeTraffic(spark, dir) == before,
      "compaction must not change the live traffic view")
    // the collapsed slice physically dropped the retired cell's rows
    val collapsedCells = spark.read.parquet(s"$dir/stats/probes/batch=0")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(collapsedCells == Set(keep),
      s"collapsed history must hold only live cells, got $collapsedCells")
  }

  test("streaming ingest: foreachBatch add fragments cells; compact heals; probes see every streamed vector") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val dir = build(Pq(), 8)
    // stream clones of known vectors in: the live-index ingest path a
    // vector pipeline runs (CDC/new-docs -> embed -> add), one
    // incremental add per micro-batch
    val twins = emb.filter(col("vec_id") < 6).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cp = java.nio.file.Files.createTempDirectory("ivf_stream_cp").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, _: Long) =>
        IvfIndex.add(spark, b, dir); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      twins.grouped(2).foreach { chunk =>
        ms.addData(chunk.map { case (id, e) => (id + 900000L, e) }.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // every streamed clone is its twin's top-1
    val probes = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding"))
    def top1() = IvfIndex.query(spark, probes, dir, nProbe = 4, topK = 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    val got = top1()
    twins.foreach { case (id, _) =>
      assert(got(id) == id + 900000L, s"streamed clone of $id must be top-1 (got ${got(id)})")
    }
    // per-batch adds fragmented at least one cell; compaction heals the
    // layout without changing any answer
    val reported = IvfIndex.compact(spark, dir)
    assert(reported > IvfIndex.cellSizes(spark, dir).size,
      "streamed adds must have fragmented the cell files")
    assert(top1() == got, "compaction must not change probe answers")
  }
}
