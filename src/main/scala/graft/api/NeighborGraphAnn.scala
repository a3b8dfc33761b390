package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Publish

/** Graph-family ANN (the HNSW/NSG regime — VERDICT r12 "What's
  * missing #5"), re-expressed as Spark relational algebra instead of
  * pointer-chasing:
  *
  *  - **Build** = a k-NN NEIGHBOR GRAPH as a DataFrame (id, nbr,
  *    cos_sim): LSH sign-band buckets seed candidate edges (bounded
  *    per bucket), one NN-DESCENT round refines them (the
  *    neighbors-of-my-neighbors join — Dong et al.'s observation
  *    that a good kNN graph is a fixpoint of that expansion), top-k
  *    per node kept, then MIRRORED so every kept edge is walkable in
  *    both directions (HNSW's bidirectional links).
  *  - **Query** = BEAM SEARCH as iterative joins: a batch of queries
  *    starts at shared entry points, and each hop expands the
  *    current per-query beam through the adjacency table (one
  *    id-keyed join), scores new nodes once (fvec_dot — codegen'd,
  *    unit vectors ⇒ dot = cosine), and keeps the best `beam` per
  *    query. After `hops` rounds the best k of everything evaluated
  *    is the answer.
  *
  * Why this shape at 100 TB: HNSW's in-memory pointer walk doesn't
  * distribute — but its two ingredients do. The graph is just an
  * edge TABLE (partitioned by id, cacheable, incrementally
  * maintainable), and a BATCH of queries amortizes each hop into one
  * shuffle-join against it, touching beam·deg rows per query instead
  * of the corpus. Build cost is bounded by construction: bucket
  * size is capped (bits scale with corpus count, like
  * EmbedBlocking.scaledBits) so LSH seeding is ~linear, and
  * NN-descent candidates are ≤ k² per node.
  *
  * Determinism: band tables are the closed-form affine dims; all
  * ranks tie-break on (cos_sim DESC, id); entry points are the
  * `entries` min-md5 ids (a deterministic uniform spread — r16); the
  * long-range overlay is md5-derived. No RNG anywhere — a rebuild is
  * bit-identical.
  *
  * r16 navigability work (all three measured, BASELINE.md r16
  * graph-ANN section): hop depth auto-scales with the corpus
  * ([[defaultHops]] — fixed depth hits a reachability cliff), entry
  * points hash-spread across the id space, and a cap-exempt
  * LONG-RANGE hub overlay keeps the graph CONNECTED on clustered
  * corpora ([[longRangeEdges]] — pure kNN edges provably disconnect
  * into per-cluster components). Like the other ANN rows (#55/#69/#87) the row is
  * declared no-oracle (recall is probabilistic, not SQL-expressible)
  * and carries seeded recall/structure property tests instead
  * (GraphAnnSuite).
  */
object NeighborGraphAnn {

  /** Bits sized so LSH buckets hold ~32 vectors: 2^bits ≈ n/32,
    * clamped to [4, 16]. Bounded buckets bound the seeding join. */
  def seedBits(n: Long): Int = {
    val target = math.max(n / 32L, 2L)
    val b = 64 - java.lang.Long.numberOfLeadingZeros(target - 1)
    math.min(16, math.max(4, b))
  }

  /** Corpus-scaled beam-search depth: ⌈log₁₆ n⌉ + 2, floor 3 (r16).
    *
    * A FLAT kNN graph has diameter ≈ log_deg(n) (deg = 2k = 16 here) —
    * HNSW hides this behind its layer hierarchy (each upper layer is a
    * long-range hop), but the relational beam search walks the base
    * layer only, so its hop count must grow with the corpus or the
    * frontier simply cannot REACH a query's neighborhood from the
    * entry points. Measured (r16, the probe that exposed it): at 500
    * vectors hops=3 gives recall@5 0.93, at 200k vectors hops=3 gives
    * recall@5 **0.02** — not a precision decay, a reachability cliff.
    * defaultHops(200k) = 7 restores the floor (see BASELINE.md r16
    * graph-ANN section). Cost is linear in hops (one id-keyed join
    * per extra hop against the materialized index), the classic
    * latency-for-recall trade every ANN index makes. */
  def defaultHops(n: Long): Int =
    math.max(3, math.ceil(math.log(math.max(n, 2L).toDouble) / math.log(16.0)).toInt + 2)

  /** Corpus-scaled entry-point count: n/32, clamped to [16, 65536]
    * (r16). On corpora whose clusters carry no inter-cluster gradient
    * (iid centroids — the hardest honest regime), recall is
    * COVERAGE-driven: the frontier must touch the query's cluster,
    * and entry points are the cheapest probes (one codegen dot
    * product each, all scored in a single round — no per-hop join).
    * Measured on a 2000×100 clustered corpus at 200k vectors, same
    * beam/hops: recall@1 0.54 at 16 entries → 0.92 at n/32 = 6250,
    * with batch latency unchanged (the hop rounds dominate). An
    * n-proportional entry sample matches the asymptotic probe count
    * of an IVF coarse quantizer — the information-theoretic floor for
    * cluster discovery without inter-cluster structure; the 65536 cap
    * bounds per-query entry scoring, beyond which an explicitly
    * trained coarse quantizer (q_sim_ivf_ann, #69) is the right
    * routing tool. */
  def defaultEntries(n: Long): Int =
    math.min(65536L, math.max(16L, n / 32L)).toInt

  /** Long-range edges per node (r16) — see [[longRangeEdges]]. */
  val LONG_EDGES_PER_NODE = 3

  /** Hub-sample size for the long-range overlay: n/64, floor 1024
    * (every node is a hub below ~65k vectors — harmless: the overlay
    * is still L uniform edges per node). n/64 keeps hub in-degree
    * bounded at ~64·L at ANY corpus size. */
  def hubCount(n: Long): Long = math.max(1024L, n / 64L)

  /** Deterministic long-range overlay (r16): L = [[LONG_EDGES_PER_NODE]]
    * edges from every node to hash-chosen HUB nodes (hubs = a
    * deterministic ~[[hubCount]]-sized Bernoulli sample of ids, see
    * [[hubTables]]), mirrored, tagged `is_long = true`, and EXEMPT
    * from the degree cap.
    *
    * Why it must exist — measured this round, not hypothesized: on a
    * CLUSTERED corpus (the regime ANN indexes exist for) every one of
    * a node's 2k best-cosine edges stays inside its own cluster, so
    * the pure-kNN edge table is a forest of disconnected components —
    * 200k clustered vectors produced recall@5 = 0.000 because beam
    * search could never leave the entry points' clusters. This is the
    * classic kNN-graph connectivity failure: HNSW solves it with its
    * layer hierarchy (upper layers ARE long links), NSW with
    * insertion-order edges, DiskANN with α-pruned far edges. The
    * relational equivalent is this overlay: uniform long edges make
    * the graph connected w.h.p. and give the frontier cluster-to-
    * cluster mobility, while the capped short edges keep precision
    * inside a neighborhood. Hub fan-in is bounded by construction
    * (~64·L), so no adjacency row explodes at scale. */
  private def longRangeEdges(e: DataFrame, idCol: String, vecCol: String,
      n: Long): DataFrame = {
    val ids = e.select(col(idCol).as("id"))
    val (hubs, sizes, buckets) = hubTables(ids, n)
    drawHubEdges(ids, hubs, sizes, buckets)
  }

  /** Hub table + bucket sizes for the overlay, FULLY DISTRIBUTED
    * (r16b — the first shape funneled n/64 rows through ONE task):
    *
    *  - selection: id is a hub iff its salted 48-bit md5 prefix is
    *    below hubCount(n)/n · 2⁴⁸ — a deterministic Bernoulli sample
    *    of ~hubCount(n) ids (± √h binomial noise, which the overlay's
    *    guarantees never depended on), computed scan-side with NO
    *    global sort and NO limit;
    *  - addressing: the draw join needs each hub reachable by a
    *    uniform random index, which previously meant a contiguous
    *    0..h-1 rank from a PARTITION-LESS window (single task, linear
    *    in the corpus — the exact anti-pattern the PlanSuite source
    *    audit exists to catch). Two-level addressing removes it:
    *    hubs land in B ≈ h/128 md5-buckets, ranked by a window
    *    PARTITIONED on the bucket (~128 rows each), and a draw picks
    *    (bucket, rank mod bucket-size) via a broadcast of the B-row
    *    size table. Bucket-size variance (~Poisson(128)) skews hub
    *    pick probability by ≲ 10% — irrelevant to connectivity, which
    *    needs only "every node reaches some shared hub core".
    *
    * Empty buckets (possible only at tiny h, P ≈ e⁻¹²⁸ otherwise)
    * drop that draw via the inner join — a node loses one of its L
    * edges, harmless. */
  private def hubTables(ids: DataFrame, n: Long)
      : (DataFrame, DataFrame, Int) = {
    val h = math.min(hubCount(n), n)
    // clamp, don't truncate (ADVICE r16): h/128 > Int.MaxValue (only
    // beyond ~1.76e13 ids) must not wrap negative and void the overlay
    val buckets = math.min(Int.MaxValue.toLong, math.max(1L, h / 128L)).toInt
    def md48(salt: String) = conv(substring(
      md5(concat(lit(salt), col("id").cast("string"))), 1, 12), 16, 10)
      .cast("long")
    // h = n ⇒ threshold 2^48 > every 48-bit prefix ⇒ all ids are hubs
    val threshold = (h.toDouble / n * (1L << 48).toDouble).toLong
    val hubs = ids
      .filter(md48("gann-hub:") < threshold)
      .withColumn("_b", (md48("gann-hubb:") % buckets).cast("int"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("_b"))
          .orderBy(md48("gann-hub:"), col("id"))) - 1)
      .select(col("_b"), col("_r"), col("id").as("_hub"))
    val sizes = hubs.groupBy(col("_b"))
      .agg(count(lit(1)).cast("int").as("_cnt"))
    (hubs, sizes, buckets)
  }

  /** L md5-derived draws per node → (bucket, rank) → hub, mirrored.
    * `sizes` is B ≈ h/128 rows — broadcast; the hub join is an
    * id-distributed equi-join on (_b, _r). */
  private def drawHubEdges(nodeIds: DataFrame, hubs: DataFrame,
      sizes: DataFrame, buckets: Int): DataFrame = {
    val fwd = nodeIds
      .select(col("id"), explode(expr(
        s"sequence(0, ${LONG_EDGES_PER_NODE - 1})")).as("_l"))
      .withColumn("_b", expr(
        s"CAST(CAST(conv(substring(md5(concat('gann-longb:', CAST(id AS STRING), ':', CAST(_l AS STRING))), 1, 12), 16, 10) AS BIGINT) % ${buckets}L AS INT)"))
      .join(broadcast(sizes), "_b")
      .withColumn("_r", expr(
        "CAST(CAST(conv(substring(md5(concat('gann-longr:', CAST(id AS STRING), ':', CAST(_l AS STRING))), 1, 12), 16, 10) AS BIGINT) % _cnt AS INT)"))
      .join(hubs, Seq("_b", "_r"))
      .filter(col("id") =!= col("_hub"))
      .select(col("id"), col("_hub").as("nbr"))
    fwd.unionByName(fwd.select(col("nbr").as("id"), col("id").as("nbr")))
      .distinct()
  }

  /** k-NN neighbor graph over unit vectors: (id, nbr, cos_sim,
    * is_long). Short edges (`is_long = false`): id ≠ nbr, out-degree
    * ≤ 2k after mirroring (≤ k forward links + reverse links). Long
    * edges: the [[longRangeEdges]] connectivity overlay, ~2·L rows
    * per node plus bounded hub fan-in, cap-exempt. `bucketCap` guards
    * degenerate LSH buckets (all near-identical vectors collapse into
    * one key).
    *
    * Seeding is RING-STRIDE, not all-pairs (r17 — found by measuring,
    * not predicted: the 2M-vector clustered build EXHAUSTED 50+ GB of
    * spill disk. All-pairs-within-bucket is cap² = ~4k pairs per hot
    * (band, bucket); a clustered corpus saturates ~bands × clusters
    * buckets at the cap, and each pre-distinct pair then rides two
    * vector joins — ~650M × ~300 B of exchange for a 500 MB corpus.
    * That volume is quadratic in bucketCap, i.e. architecturally
    * wrong at 100 TB). Instead each bucket member pairs with its next
    * `seedFanout` successors in a band-salted md5 RING: the bucket
    * stays one connected cycle (beam search can traverse it), seed
    * volume is cap × fanout — LINEAR in the cap — and the NN-descent
    * round owns precision, which is its job in every NN-descent
    * construction (the seeds only need to put each node's true
    * neighborhood within two hops of it, and ring + reverse + mirror
    * does exactly that inside a bucket). Re-measured after the
    * change: clustered-200k recall@5 held (see BASELINE.md r17), the
    * 2M build fits in memory-sized spill, and the suite floors are
    * unchanged.
    *
    * Two more r17 scale fixes in the same pass:
    *  - bucket-cap survivors are ranked by band-SALTED md5, not raw
    *    id: ordering by id kept the SAME cap members in every band
    *    (a 100-member cluster under cap 64 left 36 members with zero
    *    forward seeds in all 8 bands); salting the order per band
    *    makes the survivor sets differ so every member seeds w.h.p.;
    *  - the NN-descent candidate union and the seed ring are deduped
    *    per (id, nbr) BEFORE the vector-scoring joins, so each pair
    *    pays the two vector lookups once. */
  def build(spark: SparkSession, e: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, bands: Int = 8, bucketCap: Int = 64,
      seedFanout: Int = 8): DataFrame = {
    graft.functions.FloatVecDot.register(spark)
    val n = e.count() // planning-scale scalar (index build, not a query)
    val table = graft.api.EmbedBlocking.affineTable(bands, seedBits(n))
    val keys = graft.api.EmbedBlocking.bandKeys(e, idCol, vecCol, table)
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("band"), col("key")).orderBy(
          md5(concat(lit("gann-seed:"), col("band").cast("string"),
            lit(":"), col(idCol).cast("string"))), col(idCol))))
      .filter(col("_r") <= bucketCap)
      .select(col(idCol).as("id"), col("band"), col("key"), col("_r"))
    // ring-stride pairing: rank r -> ranks r+1 .. r+fanout, then the
    // wrap-around edges (r > cap-fanout -> r+fanout-cap ...) via the
    // cheap modulo form below; emitted one direction only (mirroring
    // happens at the end of the build)
    val sizes = keys.groupBy(col("band"), col("key"))
      .agg(max(col("_r")).as("_sz"))
    val ring = keys.as("a")
      .join(sizes.as("s"), Seq("band", "key"))
      .filter(col("_sz") > 1) // singleton buckets seed nothing
      .select(col("a.id").as("_aid"), col("band").as("_kb"),
        col("key").as("_kk"), col("a._r").as("_ra"), col("_sz"),
        explode(expr(s"sequence(1, least($seedFanout, _sz - 1))")).as("_d"))
      .withColumn("_rb", (col("_ra") - 1 + col("_d")) % col("_sz") + 1)
    val seedPairs = ring.join(keys.as("b"),
        col("_kb") === col("b.band") && col("_kk") === col("b.key") &&
          col("_rb") === col("b._r"))
      .select(col("_aid").as("id"), col("b.id").as("nbr"))
      .filter(col("id") =!= col("nbr"))
      .distinct()
    // localCheckpoint(lazy), not cache(): the blocks are reclaimed by
    // the ContextCleaner once the plan is unreferenced, so repeated
    // builds in one session don't accumulate pinned cache entries
    // (cache() blocks survive until explicit unpersist or eviction
    // pressure — ADVICE r13).
    val ev = e.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
      .localCheckpoint(false)
    def score(pairs: DataFrame): DataFrame = pairs
      .join(ev.select(col("_vid").as("id"), col("_v").as("_va")), "id")
      .join(ev.select(col("_vid").as("nbr"), col("_v").as("_vb")), "nbr")
      .select(col("id"), col("nbr"),
        round(expr("fvec_dot(_va, _vb)"), 6).as("cos_sim"))
    def topKPerNode(scored: DataFrame): DataFrame = scored
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cos_sim").desc, col("nbr"))))
      .filter(col("_r") <= k).drop("_r")
    val g0 = topKPerNode(score(seedPairs))
      .localCheckpoint(true) // NN-descent reads it from 3 sides
    // one NN-descent round: my neighbors' neighbors (forward) plus
    // who points AT me (reverse) are the candidate improvements
    val nn = g0.select(col("id"), col("nbr"))
    val fwd = nn.as("g1").join(nn.as("g2"), col("g1.nbr") === col("g2.id"))
      .select(col("g1.id").as("id"), col("g2.nbr").as("nbr"))
      .filter(col("id") =!= col("nbr"))
    val rev = nn.select(col("nbr").as("id"), col("id").as("nbr"))
    val refined = topKPerNode(
      score(nn.unionByName(fwd).unionByName(rev).distinct()))
    // mirror (every kept edge walkable both ways), then CAP degree at
    // 2k keeping the highest-cosine edges — in-degree is otherwise
    // unbounded (hub vectors collect reverse links), which is exactly
    // HNSW's reason for its max-degree prune; the cap drops only a
    // hub's WORST links, so navigability survives (recall floors in
    // GraphAnnSuite are measured under the cap)
    val shorts = refined
      .unionByName(refined.select(col("nbr").as("id"), col("id").as("nbr"), col("cos_sim")))
      .groupBy(col("id"), col("nbr")).agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cos_sim").desc, col("nbr"))))
      .filter(col("_r") <= 2 * k).drop("_r")
      .withColumn("is_long", lit(false))
    // connectivity overlay (cap-exempt; see longRangeEdges). Pairs
    // already present as short edges are dropped from the overlay so
    // (id, nbr) stays unique.
    val longs = score(longRangeEdges(e, idCol, vecCol, n))
      .join(shorts.select(col("id"), col("nbr")), Seq("id", "nbr"), "left_anti")
      .withColumn("is_long", lit(true))
    shorts.unionByName(longs)
  }

  /** Incremental insert — HNSW's actual insert algorithm, batched:
    * each new vector finds its neighbors by BEAM SEARCH over the
    * EXISTING graph (so insertion cost is search cost, never a
    * corpus pass), takes its best k as forward edges, mirrors them,
    * and the merged table is re-capped at degree 2k (hubs shed their
    * worst links, exactly as in [[build]]). This is what makes the
    * edge-TABLE representation an index you maintain instead of
    * rebuild: at 100 TB the daily increment is a search+union+re-cap
    * over the increment's keys, not an O(corpus) job.
    *
    * Contract: `newVecs` (id, vec) ids are fresh (disjoint from the
    * corpus); edges AMONG batch members are not formed by this call —
    * near-dup pairs arriving in ONE batch become mutually reachable
    * via their shared corpus neighbors, and a periodic [[build]]
    * (or NN-descent round) re-tightens the graph, the standard
    * refresh cadence for incremental ANN indexes. Returns the
    * updated edge table; use it with corpus = e ∪ newVecs.
    *
    * When to insert vs rebuild (r18, measured —
    * SCALE_PROBE_r18_gann_insert.json): insert cost ≈ batch ×
    * per-query search while rebuild ≈ one corpus pass, so the
    * breakeven is ~1–2% of the corpus per batch (at 2M: a 200k
    * insert cost 2412 s vs 407 s for the full rebuild, with recall
    * parity either way — 0.964 vs 0.960). Insert is the TRICKLE
    * path; bulk increments should rebuild. */
  def insert(spark: SparkSession, graph: DataFrame, e: DataFrame,
      idCol: String, vecCol: String, newVecs: DataFrame,
      k: Int = 8, beam: Int = 24, hops: Int = 0, entries: Int = 0): DataFrame = {
    val q = newVecs.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val found = topK(spark, graph, e, idCol, vecCol, q, k = k,
      beam = beam, hops = hops, entries = entries)
    val fwd = found.select(col("qid").as("id"), col("nid").as("nbr"), col("cos_sim"))
    // the connectivity overlay is cap-EXEMPT (see build): re-capping
    // it here would strip hub fan-in (low-cosine by design) and
    // re-disconnect the graph on clustered corpora
    val longs = graph.filter(col("is_long"))
    val shorts = graph.filter(!col("is_long")).drop("is_long")
      .unionByName(fwd)
      .unionByName(fwd.select(col("nbr").as("id"), col("id").as("nbr"), col("cos_sim")))
      .groupBy(col("id"), col("nbr")).agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cos_sim").desc, col("nbr"))))
      .filter(col("_r") <= 2 * k).drop("_r")
      .withColumn("is_long", lit(false))
    // new vectors also join the overlay (same deterministic hub
    // choice, hubs drawn from the pre-insert corpus) so they are
    // REACHABLE from afar, not only via their mirrored kNN links
    graft.functions.FloatVecDot.register(spark)
    val nCorpus = e.count()
    val evAll = e.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
      .unionByName(newVecs.select(col(idCol).as("_vid"), col(vecCol).as("_v")))
    // hubs are drawn from the CORPUS (longRangeEdges would sample the
    // new batch), so the overlay stays one consistent hub set
    val hubsSrc = e.select(col(idCol).as("id"))
    val newIds = newVecs.select(col(idCol).as("id"))
    val (hubs, sizes, buckets) = hubTables(hubsSrc, nCorpus)
    val nfm = drawHubEdges(newIds, hubs, sizes, buckets)
    val scoredNewLongs = nfm
      .join(evAll.select(col("_vid").as("id"), col("_v").as("_va")), "id")
      .join(evAll.select(col("_vid").as("nbr"), col("_v").as("_vb")), "nbr")
      .select(col("id"), col("nbr"),
        round(expr("fvec_dot(_va, _vb)"), 6).as("cos_sim"))
      .withColumn("is_long", lit(true))
    val allLongs = longs.unionByName(scoredNewLongs)
      .groupBy(col("id"), col("nbr"))
      .agg(max(col("cos_sim")).as("cos_sim"), max(col("is_long")).as("is_long"))
      .join(shorts.select(col("id"), col("nbr")), Seq("id", "nbr"), "left_anti")
    shorts.unionByName(allLongs)
  }

  /** Persisted lifecycle (VERDICT r13 "missing #2" / next-round #4),
    * mirroring [[IvfIndex]]'s: the index is exactly two tables —
    * edges (id, nbr, cos_sim) and vectors (id, vec), plus the format
    * stamp — published as one [[Publish]] version, so a probe can
    * never pair edges with vectors from a DIFFERENT build (the same
    * atomicity argument as codes-vs-codebooks there), and a failed
    * re-[[save]] leaves the previous version live. [[load]] reads the
    * current version lazily, so [[topKLoaded]] probes pay parquet
    * scans of the two tables and the beam-search joins — never a
    * build. Search latency is thereby measurable separately from
    * build cost (recorded in SCALE_PROBE_r17_gann2m.json and
    * GANN_ENTRY_SWEEP_r17.json). */
  def save(spark: SparkSession, indexDir: String, graph: DataFrame,
      e: DataFrame, idCol: String, vecCol: String): String =
    Publish.publish(spark, indexDir) { vdir =>
      graph.write.parquet(s"$vdir/edges")
      e.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .write.parquet(s"$vdir/vectors")
      Publish.commitFile(Publish.fs(spark, vdir), new Path(vdir, FormatFile),
        FORMAT_VERSION.toString)
    }

  /** Algorithm/format version stamped into every committed index
    * version (ADVICE r16 #2). Bump whenever a code change alters the
    * deterministic hub/overlay derivation — [[insert]] against an
    * index built by an OLDER derivation would wire new vectors into a
    * hub set the stored overlay doesn't use, silently degrading
    * connectivity. v2 = the r16b Bernoulli-sampled hubs with
    * two-level (bucket, rank) addressing. Unstamped dirs are pre-r16b
    * (top-h min-md5 hubs): rebuild before use. */
  val FORMAT_VERSION = 2
  private val FormatFile = "_graft_gann_format"

  /** Stamped format of `vdir`, None when unstamped (pre-r16b). */
  private def stampedFormat(spark: SparkSession, vdir: String): Option[Int] =
    Publish.readFile(Publish.fs(spark, vdir), new Path(vdir, FormatFile))
      .flatMap(_.trim.toIntOption)

  /** True when `indexDir` holds a committed index version AT THE
    * CURRENT format. A stale-format index reads as absent, so a caller
    * that checks first rebuilds instead of tripping [[load]]'s guard. */
  def hasIndex(spark: SparkSession, indexDir: String): Boolean =
    Publish.current(spark, indexDir)
      .exists(vdir => stampedFormat(spark, vdir).contains(FORMAT_VERSION))

  /** (edge table, vectors) of the current committed version. Refuses
    * an unstamped or other-format index: its overlay was derived by a
    * different hub algorithm than this code's [[insert]] would use. */
  def load(spark: SparkSession, indexDir: String): (DataFrame, DataFrame) = {
    val vdir = Publish.current(spark, indexDir).getOrElse(throw
      new IllegalStateException(s"no committed neighbor-graph index under $indexDir"))
    val fmt = stampedFormat(spark, vdir)
    if (!fmt.contains(FORMAT_VERSION)) throw new IllegalStateException(
      s"neighbor-graph index at $vdir has format ${fmt.getOrElse("<unstamped, pre-r16b>")}; " +
        s"this build reads/extends format $FORMAT_VERSION only — rebuild the index " +
        "(its long-range hub overlay was derived by a different algorithm)")
    (spark.read.parquet(s"$vdir/edges"), spark.read.parquet(s"$vdir/vectors"))
  }

  /** Probe-only entry point: beam search over a persisted index. */
  def topKLoaded(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, beam: Int = 24, hops: Int = 0, entries: Int = 0): DataFrame = {
    val (g, v) = load(spark, indexDir)
    topK(spark, g, v, "id", "vec", queries, k, beam, hops, entries)
  }

  /** Batched beam search over a built graph. `queries` is (qid, qvec);
    * returns (qid, rn, nid, cos_sim), top-k per query, rn 1..k,
    * self-matches (qid == nid over a shared id space) excluded.
    * `hops = 0` (the default) auto-scales the depth to the corpus via
    * [[defaultHops]] — a FIXED depth stops reaching the query's
    * neighborhood once the graph outgrows it (see defaultHops). */
  def topK(spark: SparkSession, graph: DataFrame, e: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame,
      k: Int, beam: Int = 24, hops: Int = 0, entries: Int = 0): DataFrame = {
    graft.functions.FloatVecDot.register(spark)
    // Materialize + id-key the two INDEX tables once per search batch
    // (r15, VERDICT r14 #3 — the probe-latency decomposition): every
    // hop joins the adjacency and vector tables by node id, and
    // without this each of the (hops + 2) joins re-SCANS the parquet
    // and re-EXCHANGES the table — which is why r14's probe-only cost
    // grew 5.1× for the sf1→sf10 decade (scan-bound, ∝ corpus) while
    // the beam·deg model predicts near-flat. One hash repartition on
    // the join key + a lazy localCheckpoint makes hop N read
    // in-memory blocks that are ALREADY distributed by nid
    // (LogicalRDD preserves the physical partitioning, so Catalyst
    // plans the per-hop joins without a fresh exchange on the index
    // side; the ContextCleaner reclaims the blocks when the plan goes
    // out of scope). This is the distributed analog of HNSW's
    // memory-resident index: at cluster scale the index tables live
    // partitioned-by-id across executors and each hop is a co-located
    // lookup, never a table re-shuffle.
    val ev = e.select(col(idCol).as("nid"), col(vecCol).as("_nv"))
      .repartition(col("nid")).localCheckpoint(false)
    val adj = graph.select(col("id").as("nid"), col("nbr"))
      .repartition(col("nid")).localCheckpoint(false)
    val q = queries.select(col("qid"), col("qvec"))
    val nIdx = ev.count()
    val effHops = if (hops > 0) hops else defaultHops(nIdx)
    val effEntries = if (entries > 0) entries else defaultEntries(nIdx)
    // deterministic shared entry points, HASH-SPREAD across the id
    // space (r16): the old "lowest `entries` ids" clustered every
    // entry in one corner of the corpus (on a sharded/replicated
    // dataset literally inside ONE shard), making the reachability
    // cliff above even sharper. Min-md5 selection is a deterministic
    // uniform sample, computed as a distributed TakeOrdered — no
    // single-partition sort, scalable at any corpus size.
    val entry = ev.select(col("nid"))
      .orderBy(md5(concat(lit("gann-entry:"), col("nid").cast("string"))))
      .limit(effEntries)
    def score(cand: DataFrame): DataFrame = cand // (qid, nid)
      .join(q, "qid").join(ev, "nid")
      .select(col("qid"), col("nid"),
        round(expr("fvec_dot(qvec, _nv)"), 6).as("cos_sim"))
    // r18: entry seeding WITHOUT the |queries| × effEntries scored
    // join. Only the top beam·(effHops+1) entries per query can ever
    // matter: each hop marks at most `beam` nodes done, so an entry
    // ranked below beam·effHops + beam can never reach a frontier,
    // and the final top-k (k ≤ beam) can never reach that deep into
    // the entry ranking either — seeding with exactly that per-query
    // top-m is BIT-IDENTICAL to scoring the full entry set
    // (GraphAnnSuite re-verified), and turns the seed from a
    // |q|·effEntries row exchange (the r18 insert probe measured a
    // 20k-vector insert at 200k paying 873 s, dominated by its
    // 125M-row seed; a 200k insert at 2M would be 12.5B rows) into
    // one map-side pass over the query batch against a driver-held
    // entry array — bounded by the 65536 entries cap × dim floats
    // ≈ 17 MB, the same closure-size argument as IvfIndex centroids.
    // Dot product replicates fvec_dot exactly (ascending-index double
    // accumulation) and round(x, 6) is Spark's HALF_UP BigDecimal.
    val entryVecs = entry.join(ev, "nid")
      .select(col("nid"), col("_nv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val seedM = beam * (effHops + 1)
    val seedUdf = udf((qv: Seq[Float]) => {
      val qa = qv.toArray
      val scored = new Array[(Double, Long)](entryVecs.length)
      var i = 0
      while (i < entryVecs.length) {
        val (nid, v) = entryVecs(i)
        var acc = 0.0
        var j = 0
        while (j < qa.length) { acc += qa(j).toDouble * v(j).toDouble; j += 1 }
        val sim = java.math.BigDecimal.valueOf(acc)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        scored(i) = (-sim, nid) // (sim desc, nid asc) = frontier order
        i += 1
      }
      scored.sorted.take(seedM).map { case (negSim, nid) => (nid, -negSim) }
    })
    var seen = q.select(col("qid"), explode(seedUdf(col("qvec"))).as("_e"))
      .select(col("qid"), col("_e._1").as("nid"), col("_e._2").as("cos_sim"))
      .localCheckpoint(true) // per-hop frontier reads; truncate lineage
    // Each node is EXPANDED AT MOST ONCE (r16): the frontier is the
    // best `beam` nodes not yet expanded — canonical best-first beam
    // search. The previous shape took the top-beam of EVERYTHING seen,
    // so once the beam ranking stabilized the same nodes were
    // re-selected, their neighbors were already in `seen`, expansion
    // came back EMPTY, and extra hops were no-ops — measured on a
    // clustered 200k corpus as a recall plateau well below the floor
    // while hops sat unused. With once-only expansion the explored
    // set grows by beam·deg every hop, so depth buys coverage.
    var done = seen.select(col("qid"), col("nid")).limit(0)
      .localCheckpoint(true)
    for (_ <- 1 to effHops) {
      val frontier = seen
        .join(done, Seq("qid", "nid"), "left_anti")
        .withColumn("_r", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))))
        .filter(col("_r") <= beam)
        .select(col("qid"), col("nid"))
      val expanded = frontier.join(adj, "nid")
        .select(col("qid"), col("nbr").as("nid")).distinct()
        .join(seen.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
      done = done.unionByName(frontier).localCheckpoint(true)
      seen = seen.unionByName(score(expanded)).localCheckpoint(true)
    }
    seen
      .filter(col("qid") =!= col("nid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"))
      .orderBy("qid", "rn")
  }
}
