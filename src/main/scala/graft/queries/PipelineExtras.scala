package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Extended LLM-pipeline operators beyond the original §2B inventory
  * (builder-prompt first-class additions): SimHash + n-gram-Jaccard +
  * embedding-cosine dedup, language ID, quality scoring, token
  * counting, document fingerprinting. SURVEY.md §2B rows 61–67.
  *
  * All seven are exactly oracle-checked: every hash is md5-derived
  * (identical hex in both engines) and every float is either avoided
  * (integer scores) or produced by one deterministic arithmetic step
  * before round().
  */
object PipelineExtras {
  type Q = (SparkSession, String) => DataFrame

  /** Per-word 32-bit hash: first 8 hex digits of md5 — engine-portable
    * (Spark `conv(hex,16,10)`; DuckDB via per-digit strpos+shift).
    */
  private val SPARK_WORD_HASH = "CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT)"

  /** 64-bit engine-side shingle key (r19 optimization round — the
    * DupSpans move, applied to the exact rows #62/#109 with the
    * tiebreak preserved): every join/shuffle in the candidate
    * enumeration and recount stages keys on `xxhash64(sh)` instead of
    * the ~25-byte shingle STRING; the string survives ONLY into the
    * two `ORDER BY (df, sh)` selection sites (jaccard rarest-K,
    * containment prefix), whose doc-keyed window exchanges are the
    * tiebreak that decides what the df-cap drops — so the capped
    * candidate SELECTION is bit-identical to the string-keyed
    * pipeline. xxhash64 is codegen'd and ~free (an md5+conv 60-bit
    * variant measured +0.15 s per postings pass at sf0.1, a regression
    * on the very rows this targets — see OPTIMIZATION_r19.md). The
    * DuckDB oracle stays STRING-keyed: df per 64-bit key equals df per
    * string absent an xxhash64 collision in the shingle vocabulary
    * (~|vocab|²/2⁶⁵ — the same documented accepted-risk class as
    * DupSpans' xxhash64 shingle identity and collapseExact's md5 text
    * identity), and every SF the driver oracles verifies the outputs
    * bit-identical. */
  private def shingleKey = xxhash64(col("sh"))

  /** Attaches `df` (document frequency per 64-bit shingle key) to
    * every posting row with one count-over-partition window: the full
    * postings (shingle string included, the ORDER-BY sites need it)
    * cross one shh exchange, and the cached result comes out
    * hash-partitioned by shh, which the downstream shh self-joins can
    * reuse under cached-plan AQE. (A groupBy + join-back shape and an
    * uncached window were measured and rejected in r19 — see
    * OPTIMIZATION_r19.md.) The helper owns the cache decision, so call
    * sites do not add their own .cache(). */
  private def withShingleDf(sh: DataFrame): DataFrame =
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("shh")))).cache()
  private val DUCK_WORD_HASH =
    """CAST(list_sum(list_transform(generate_series(1, 8),
      |  i -> (CAST(strpos('0123456789abcdef', substring(md5(word), i, 1)) AS BIGINT) - 1)
      |       << (4 * (8 - i)))) AS BIGINT)""".stripMargin

  // ---- #61 q_dedup_simhash -----------------------------------------------
  // 32-bit SimHash: per word-occurrence hash, per-bit ±1 vote, sign →
  // signature bit. Implemented as ONE groupBy with 32 conditional-sum
  // aggregates (no 32× row blowup — the shuffle carries 32 longs per
  // doc), which is the shape that survives 100 TB.
  val qDedupSimhash: Q = (s, dir) => {
    val wh = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("h", expr(SPARK_WORD_HASH))
    val votes = (0 until 32).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    val sig = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    wh.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .orderBy("doc_id")
  }

  val qDedupSimhashSql: String = {
    val votes = (0 until 32).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n         ")
    val sig = (0 until 32).map(b =>
      s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
       |wh AS (SELECT doc_id, $DUCK_WORD_HASH AS h FROM w),
       |v AS (SELECT doc_id,
       |         $votes
       |      FROM wh GROUP BY doc_id)
       |SELECT doc_id, $sig AS simhash
       |FROM v
       |ORDER BY doc_id""".stripMargin
  }

  // ---- #62 q_dedup_ngram_jaccard -----------------------------------------
  // Exact 3-gram Jaccard at scale — inverted-index + prefix-filter
  // shape, linear passes, NO all-pairs work. Since r13 the pipeline
  // runs AFTER an exact-duplicate collapse (collapseExact) and its
  // index joins are df-capped (NGRAM_POSTING_DF_CAP — the bounded-
  // candidate mode closing the r12 Σ df² scale-killer); identical
  // texts score 1.0 by identity, representative-level pairs expand
  // back to members. Over the unique corpus:
  //  1. Candidate generation from TWO inverted indexes, unioned:
  //     (a) postings with document frequency <= NGRAM_DF_CUT,
  //         self-joined on the shingle → per-pair count of shared
  //         RARE shingles (`inter_r`); a hot shingle (stopword
  //         trigram at corpus scale) contributes no pairs here, which
  //         bounds the join at <= CUT² rows per shingle;
  //     (b) each doc's NGRAM_RAREST_K globally-rarest shingles
  //         REGARDLESS of df — this is what catches heavily
  //         duplicated boilerplate (a doc copied 60× makes ALL its
  //         shingles df=60 > CUT, invisible to (a); but the copies
  //         share their rarest shingles, and the join cost of a hot
  //         rarest-shingle is the duplicate-cluster size squared —
  //         proportional to the true output).
  //     A pair escapes BOTH indexes only if its entire overlap is
  //     shingles that are hot AND outside both docs' rarest-K — i.e.
  //     generic boilerplate that isn't even the docs' own rarest
  //     content; reported pairs are never approximate either way.
  //  2. Exact upper bound on each pair's TRUE Jaccard: true inter <=
  //     inter_r + min(hot_a, hot_b) where hot_x = |x| - |rare_x| (a
  //     shared hot shingle needs a hot posting on both sides). J is
  //     monotonic in inter, so ubJ >= trueJ — pairs with ubJ below
  //     threshold are dropped EXACTLY, not heuristically.
  //  3. Full-set intersection recount ONLY for survivors (near-dups,
  //     a vanishing fraction), so the reported jaccard is the exact
  //     all-shingle value; final threshold re-applied on it.
  // No doc_id cap — the df cut is the honest scale bound (round-1
  // verdict, perf item 2).
  val NGRAM_DF_CUT = 50
  val NGRAM_RAREST_K = 5
  val NGRAM_JACCARD_MIN = 0.2

  /** CONTAINMENT: score = |A∩B| / min(|A|, |B|) — detects a small doc
    * living INSIDE a big one (quotes, boilerplate wrappers, subset
    * duplication), which Jaccard structurally misses: a 100-shingle
    * doc fully contained in a 2000-shingle doc has containment 1.0
    * but Jaccard 0.05.
    *
    * Candidate generation is NOT Jaccard's rare-shingle indexes —
    * their recall argument is score-dependent and fails here (an
    * all-hot doc contained in a doc with its own rare vocabulary
    * shares no rare shingle and no rarest-K with it, yet scores 1.0).
    * Instead, the exact PPJoin-style prefix filter FOR the
    * containment threshold τ: each doc's prefix = its ⌊(1−τ)·sz⌋+1
    * globally-rarest shingles, candidates = prefix ⋈ FULL postings.
    * Pigeonhole recall proof: if |A∩B| ≥ τ·min(|A|,|B|), the smaller
    * doc S has at most (1−τ)·|S| shingles outside the overlap, so
    * S's prefix contains at least one overlap shingle, and the
    * partner's posting for it generates the pair. Exact, not
    * approximate. Cost: each prefix posting joins its document
    * frequency — rare-first ordering keeps that small for normal
    * docs, and ∝ duplicate-cluster size for boilerplate (i.e.
    * proportional to the true output), never all-pairs.
    */
  val NGRAM_CONTAIN_MIN = 0.8

  /** r13 bounded-candidate cap (VERDICT r12 Next-round #1): inverted-
    * index joins enumerate candidates only through shingles whose
    * document frequency over UNIQUE texts is ≤ this. The r12 10×
    * scaling curve measured the uncapped joins Σ df²-superlinear
    * (containment 42–49×, jaccard 13×) under trigram-vocabulary
    * saturation — df of generic trigrams grows ∝ N, so Σ df² grows
    * ∝ N², exactly what a real 100 TB corpus's stopword trigrams do.
    * With the cap, join cost ≤ CAP · |postings| — linear by
    * construction. Two recall defenses make the trade narrow:
    *  1. EXACT-duplicate collapse runs FIRST ([[collapseExact]]):
    *     identical texts — the dominant hot-df driver in real
    *     corpora — are grouped losslessly (score 1.0 by identity),
    *     so cluster size never inflates df and those pairs can't be
    *     lost to the cap;
    *  2. the prefix/rarest indexes rank RAREST-first, so a capped-out
    *     candidate route needs the pair's entire qualifying overlap
    *     to sit in shingles hotter than the cap ACROSS UNIQUE TEXTS —
    *     i.e. generic boilerplate n-grams that ≥ 200 distinct
    *     documents share (declared trade; planted-pair recall pinned
    *     in ExtrasSuite). The fixture's max unique-text df is 25, so
    *     the cap provably does not change sf0.001–0.1 output.
    * Both engines (Spark and the DuckDB oracle) apply the identical
    * cap, so the rows stay fully hash-checked. */
  val NGRAM_POSTING_DF_CAP = 200L

  /** Exact-duplicate collapse: assigns every doc (≥ 3 words — the
    * shingling domain) its cluster's representative `uid` = min
    * doc_id over identical texts. Returns (memb: doc_id → uid, urep:
    * one (doc_id, text) row per distinct text, keyed by its uid).
    *
    * Shuffle shape (r13 follow-up, measured): the identity key is
    * md5(text) — the window moves 44-byte (doc_id, md5) projections
    * instead of full corpus rows (the first cut windowed over the
    * raw text: ~1.4 s slower at sf0.1, and at 100 TB it would
    * re-shuffle the whole corpus). `urep` semi-joins the base scan
    * against the uid set (broadcast at fixture scale; id-keyed
    * shuffle — no worse than the text shuffle it replaces — beyond).
    * The oracles state the IDEAL text-keyed collapse (GROUP BY text);
    * the engine keys by md5, so they diverge only on an md5 collision
    * (~n²/2¹²⁹ — the same documented accepted-risk class as DupSpans'
    * 64-bit shingle fingerprints, 2⁶⁴× smaller).
    * Cached: memb feeds the same-cluster/expansion joins, the
    * window input feeds both memb and the urep filter. */
  private[graft] def collapseExact(docs: DataFrame): (DataFrame, DataFrame) = {
    val d0 = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("text"))
    val withUid = d0
      .select(col("doc_id"), md5(col("text")).as("_tk"))
      .withColumn("uid", min(col("doc_id")).over(Window.partitionBy(col("_tk"))))
      .select(col("doc_id"), col("uid"))
      // cache(), not localCheckpoint(lazy) (r18 optimization round,
      // reversing the ADVICE-r13 shape): the lazy checkpoint creates a
      // fresh RDD per invocation, which is invisible to CacheManager
      // dedup. cache() keeps the logical plan PURE, so repeated
      // invocations REUSE one entry per corpus (CacheManager dedups by
      // canonical plan — the "ever-growing cache" the r13 advice
      // feared does not occur; the entry is memb-sized, and sessions
      // that want it gone still get it via clearCache()).
      .cache()
    val urep = d0.join(withUid.filter(col("doc_id") === col("uid"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    (withUid, urep)
  }

  /** All within-cluster pairs at score 1.0 — identical texts, so the
    * score is exact by identity (no recount needed). Output size is
    * the true duplicate-pair count: Σ c·(c−1)/2 over clusters. */
  private[graft] def sameClusterPairs(memb: DataFrame, scoreName: String): DataFrame =
    memb.as("a").join(memb.as("b"),
        col("a.uid") === col("b.uid") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(1.0).as(scoreName))

  /** Expand representative-level pairs to member-level: every member
    * of cluster A × every member of cluster B carries the reps'
    * score (their texts are identical to the reps'). */
  private[graft] def expandPairs(cross: DataFrame, memb: DataFrame,
      scoreName: String): DataFrame = {
    val ma = memb.select(col("uid").as("doc_a"), col("doc_id").as("da"))
    val mb = memb.select(col("uid").as("doc_b"), col("doc_id").as("db"))
    cross.join(ma, "doc_a").join(mb, "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col(scoreName))
  }
  /** Per-doc distinct 3-gram shingles — SHARED with the streaming
    * scorer ([[graft.api.StreamContain]]): the streamed == batch
    * guarantee depends on the shingling staying byte-identical, so
    * there is exactly one copy of the transform. */
  private[graft] def containShingles(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("ws"))
    .filter(size(col("ws")) >= 3)
    .select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
      .as("sh"))

  /** Prefix slot count for containment threshold `tau` given a size
    * column: ⌊(1−τ)·sz⌋+1, the pigeonhole-complete prefix length —
    * one copy for the same reason as [[containShingles]].
    *
    * +1e-9 BEFORE the floor: (1.0 − 0.8) is 0.19999999999999998 in
    * binary, so for sz divisible by 5 the product lands a hair under
    * the exact integer and floor loses one prefix slot — one fewer
    * than the pigeonhole bound needs. The epsilon dominates the
    * representation error (≤ ~1e-13 for any real sz) without ever
    * reaching the next integer; the oracle SQL carries the identical
    * expression. */
  private[graft] def containPrefixSlots(sz: org.apache.spark.sql.Column,
      tau: Double): org.apache.spark.sql.Column =
    floor((lit(1.0) - lit(tau)) * sz + lit(1e-9)).cast("long") + 1L

  /** Containment scorer over an already-UNIQUE (doc_id, text) corpus
    * — [[ngramContainmentPairs]] wraps it with the exact-duplicate
    * collapse and member expansion. The candidate probe side is
    * df-capped ([[NGRAM_POSTING_DF_CAP]]); the prefix side is not
    * (it is ≤ ⌊(1−τ)·sz⌋+1 slots per doc by construction). The
    * stages' cardinalities at r18 scale (shingles → prefix → probe →
    * candidates → recount → result) are recorded in
    * SCALE_PROBE_r18_containment.json. */
  private[graft] def containmentPairsUnique(docs: DataFrame): DataFrame = {
    // shh: the 64-bit xxhash64 key (r19) — computed ONCE here, cached with the
    // postings; the shared string shingling transform is untouched
    val sh = containShingles(docs)
      .withColumn("shh", shingleKey)
      .cache() // consumed 4× (prefix source, candidate probe, recount both sides)
    // df per 64-bit key (r19): the window exchange repartitions the
    // postings by an 8-byte long instead of the shingle string; the
    // string column still rides this one exchange because the prefix
    // window's ORDER BY (df, sh) tiebreak below needs it.
    // consumed 2× (prefix, probe) — cache decision inside the helper
    val shDf = withShingleDf(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz")).cache()
    // ORDER BY (df, sh) — the STRING tiebreak, bit-identical prefix
    // selection to the string-keyed pipeline (see shingleKey)
    val prefix = shDf.join(sizes, "doc_id")
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("_r") <= containPrefixSlots(col("sz"), NGRAM_CONTAIN_MIN))
      .select(col("doc_id"), col("shh"))
    val probe = shDf.filter(col("df") <= NGRAM_POSTING_DF_CAP)
      .select(col("doc_id"), col("shh"))
    val cand = prefix.as("a").join(probe.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // Exact recount stays RELATIONAL here (r18 optimization round,
    // measured): unlike the minhash family (r15) and the jaccard row's
    // post-ub-filter survivors, containment's candidate set is NOT
    // output-sized — 180k pairs vs 241 result rows at sf0.1 — so the
    // collect_set/array_intersect shape ships two ~2 KB shingle arrays
    // per candidate pair (tried: 3.4 s → 5.3+ s). The pairs × shingles
    // join rows are narrow and Σ_cand(sza+szb)-bounded, and the probe
    // side is df-capped, which is what bounds the volume at scale.
    // r19: the recount joins key on shh — the recount has no ORDER-BY
    // tiebreak exposure, so narrowing its join rows from (doc, string)
    // to (doc, long) is selection-safe; the oracle recounts over the
    // same per-doc-distinct-string frame keyed the same way.
    // Size-oriented recount (enumerate only the SMALLER doc's
    // shingles per pair — Σ min(sa,sb) instead of Σ sz(least-id
    // side)) was tried in r19 session 2: output identical at sf0.1
    // and g1, but −0.5 s at sf0.1 (two pairs-sized orientation joins
    // added) and WITHIN NOISE at g1 — this corpus's containment
    // candidates are near-dups with near-equal sizes, so
    // Σ min ≈ Σ sza and there is no volume to save. The idea only
    // pays on corpora with size-skewed containment pairs (true
    // small⊂big); OPTIMIZATION_r19.md (batch 7) records the measured
    // variant.
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shh")), Seq("doc_b", "shh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / least(col("sa"), col("sb")).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= NGRAM_CONTAIN_MIN)
  }

  /** Driver-visible containment dedup (r13 shape): exact-duplicate
    * collapse → capped prefix-filter scoring over unique texts →
    * member expansion + within-cluster pairs at 1.0. See
    * [[NGRAM_POSTING_DF_CAP]] for the scale argument. */
  private[graft] def ngramContainmentPairs(docs: DataFrame): DataFrame = {
    val (memb, urep) = collapseExact(docs)
    sameClusterPairs(memb, "containment")
      .unionByName(expandPairs(containmentPairsUnique(urep), memb, "containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Core Jaccard pipeline over an already-UNIQUE (doc_id, text)
    * frame — [[ngramJaccardPairs]] wraps it with the exact-duplicate
    * collapse; factored out so tests can plant boilerplate clusters
    * the fixture lacks. */
  private[graft] def jaccardPairsUnique(docs: DataFrame): DataFrame = {
    // per-doc distinct via array_distinct BEFORE the explode: the
    // shingle set is defined per doc, so deduping inside the row is
    // exactly distinct-on-(doc_id, sh) — minus the full shuffle a
    // global .distinct() costs (measured: part of 2.95→2.2 s at sf0.1)
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
        .as("sh"))
      // shh: the 64-bit xxhash64 key (r19) — all enumeration/recount joins below
      // key on it; the string survives only into the rarest-K ORDER BY
      .withColumn("shh", shingleKey)
      .cache() // consumed 4× (df, postings⋈df, recount both sides)
    // document frequency as ONE window pass: partitionBy(shh) shuffles
    // the postings once — by an 8-byte long key since r19 — where the
    // old groupBy(sh)+join-back shape shuffled them twice (aggregate,
    // then re-join on the string key)
    // 3 concurrent readers (stats, rare, rarest-K) — cache decision
    // inside the helper
    val shDf = withShingleDf(sh)
    // ONE doc-stats aggregate carrying both the total shingle count
    // and the rare-posting count: replaces the round-2 sizes+rsizes
    // pair (two shuffles, and two extra left-join+fill(0) hops in the
    // stats join below — rz=0 now falls out of the conditional sum).
    val stats = shDf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"),
        sum(when(col("df") <= NGRAM_DF_CUT, 1L).otherwise(0L)).as("rz"))
      .cache() // consumed 3× (mostlyHot + both sides of the stats join);
               // NOT warmed: its build overlaps the rare self-join
    // r19: the rare self-join — the row's dominant stage (1.2 M pair
    // rows at sf0.1) — enumerates on the long key: 16 B shuffle rows
    // and long equality instead of ~35 B rows hashing/comparing strings
    val rare = shDf.filter(col("df") <= NGRAM_DF_CUT)
      .select(col("doc_id"), col("shh"))
    val interR = rare.as("a").join(rare.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_r"))
    // (b): each doc's K globally-rarest shingles — restricted to docs
    // with FEWER than K rare postings, which is coverage-equivalent:
    // a doc with >= K rare shingles has its K rarest all rare (rare
    // df <= any hot df), so any pair it generates here shares a rare
    // shingle and is already in index (a). Only mostly-hot docs (the
    // boilerplate case) need this index, so its cost is ~zero on a
    // corpus with a healthy rare vocabulary.
    val mostlyHot = stats.filter(col("rz") < NGRAM_RAREST_K)
      .select(col("doc_id"))
    // ORDER BY (df, sh) — the STRING tiebreak, so the capped rarest-K
    // selection is bit-identical to the string-keyed pipeline (r19;
    // see shingleKey); only the SELECTED keys leave as longs
    val rarestK = shDf.join(mostlyHot, "doc_id")
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("_r") <= NGRAM_RAREST_K &&
        col("df") <= NGRAM_POSTING_DF_CAP) // r13 bounded-candidate cap
      .select(col("doc_id"), col("shh"))
    val candRarest = rarestK.as("a").join(rarestK.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Union of both indexes with inter_r carried through = FULL OUTER
    // join on the pair key: references interR exactly ONCE (the
    // round-2 union + left-join shape executed the rare self-join
    // twice — Spark does not fuse the two identical subtrees across
    // a union), and a rarest-K-only pair naturally gets inter_r=0.
    val cand = interR
      .join(candRarest, Seq("doc_a", "doc_b"), "full_outer")
      .na.fill(0L, Seq("inter_r"))
    // doc-level stats are corpus-cardinality (broadcast at any scale
    // where the doc COUNT fits a broadcast; else a shuffled join on
    // doc id — either way linear). stats covers every doc with a
    // shingle and rz=0 falls out of the conditional sum, so an
    // all-hot doc (NO rare postings — exactly the boilerplate case
    // index (b) exists to catch) survives with ra/rb = 0.
    val withStats = cand
      .join(stats.select(col("doc_id").as("doc_a"), col("sz").as("sa"), col("rz").as("ra")), "doc_a")
      .join(stats.select(col("doc_id").as("doc_b"), col("sz").as("sb"), col("rz").as("rb")), "doc_b")
    val ub = col("inter_r") + least(col("sa") - col("ra"), col("sb") - col("rb"))
    val survivors = withStats
      .filter(ub.cast("double") / (col("sa") + col("sb") - ub).cast("double")
        >= lit(NGRAM_JACCARD_MIN - 1e-6))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .cache() // scanned 3× (both survIds union branches + recount join); tiny
    // Recount reads ONLY survivor docs' postings: the pa/pb join keys
    // are survivor doc ids, so semi-joining the (vanishing) survivor
    // id set into the postings first is an exact restriction. No
    // forced broadcast hint: survIds is usually tiny, but on a
    // duplicate-heavy corpus it is not, and a forced broadcast past
    // the limit fails the job — AQE picks broadcast when it fits,
    // same as the stats joins above.
    val survIds = survivors.select(col("doc_a").as("doc_id"))
      .unionByName(survivors.select(col("doc_b").as("doc_id")))
      .distinct()
    // Recount via per-doc shingle SETS (r18 optimization round — same
    // shape as the containment recount above and MinHashDf's r15
    // exactIntersections): the old survivors ⨝ postings ⨝ postings
    // groupBy materialized a pairs × shingles-per-doc intermediate;
    // collecting each survivor doc's distinct set once and counting
    // the intersection in a codegen projection moves volume ∝
    // survivor docs + pairs instead. Counts identical (postings are
    // per-doc distinct); zero-intersection pairs now carry inter = 0
    // and are dropped by the ≥ threshold filter exactly as their
    // absence dropped them before.
    // r19: sets of 64-bit keys — 8 B/element arrays instead of shingle
    // strings; collect_set dedups the (collision-only) repeated key per
    // doc, so size(array_intersect) counts DISTINCT common keys, the
    // same quantity the oracle's DISTINCT-keyed recount join counts.
    val sets = sh.join(survIds, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("shh")).as("shs"))
      .cache() // feeds BOTH join legs below
    val exact = survivors
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"))
    exact
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= NGRAM_JACCARD_MIN)
  }

  /** Driver-visible Jaccard dedup (r13 shape): exact-duplicate
    * collapse → rare-index + capped rarest-K candidates over unique
    * texts → member expansion + within-cluster pairs at 1.0. See
    * [[NGRAM_POSTING_DF_CAP]] for the scale argument. */
  private[graft] def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val (memb, urep) = collapseExact(docs)
    sameClusterPairs(memb, "jaccard")
      .unionByName(expandPairs(jaccardPairsUnique(urep), memb, "jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val qDedupNgramJaccard: Q = (s, dir) => ngramJaccardPairs(Tables.documents(s, dir))

  // ---- #109 q_dedup_containment ------------------------------------------
  // Driver-visible containment dedup (scaladoc at
  // ngramContainmentPairs): on this fixture its output coincides with
  // the full-duplicate set (no planted partial containment — the
  // distinguishing subset cases are suite-planted in ExtrasSuite),
  // but the oracle still verifies the whole r13 pipeline — exact
  // collapse, shingling, rarest-prefix selection, df-capped candidate
  // join, exact recount, least()-denominator score, member
  // expansion — cross-engine.
  val qDedupContainment: Q = (s, dir) => ngramContainmentPairs(Tables.documents(s, dir))

  val qDedupContainmentSql: String =
    s"""WITH d0 AS (SELECT doc_id, text FROM documents
      |            WHERE LEN(string_split(text, ' ')) >= 3),
      |rep AS (SELECT text, MIN(doc_id) AS uid FROM d0 GROUP BY text),
      |memb AS (SELECT d0.doc_id, rep.uid FROM d0 JOIN rep USING (text)),
      |d AS (SELECT uid AS doc_id, string_split(text, ' ') AS ws FROM rep),
      |sh AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM d)),
      |dfc AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |prefix AS (
      |  SELECT doc_id, sh FROM (
      |    SELECT sh.doc_id, sh.sh, sizes.sz,
      |           ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY dfc.df, sh.sh) AS _r
      |    FROM sh JOIN dfc ON dfc.sh = sh.sh JOIN sizes ON sizes.doc_id = sh.doc_id)
      |  WHERE _r <= CAST(FLOOR((1.0 - $NGRAM_CONTAIN_MIN) * sz + 1e-9) AS BIGINT) + 1),
      |probe AS (SELECT sh.doc_id, sh.sh FROM sh
      |          JOIN dfc ON dfc.sh = sh.sh WHERE dfc.df <= $NGRAM_POSTING_DF_CAP),
      |cand AS (
      |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
      |                  GREATEST(a.doc_id, b.doc_id) AS doc_b
      |  FROM prefix a JOIN probe b ON a.sh = b.sh AND a.doc_id <> b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      |  FROM cand c
      |  JOIN sh pa ON pa.doc_id = c.doc_a
      |  JOIN sh pb ON pb.doc_id = c.doc_b AND pb.sh = pa.sh
      |  GROUP BY 1, 2),
      |cross0 AS (
      |  SELECT doc_a, doc_b,
      |         ROUND(CAST(inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE ROUND(CAST(inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) >= $NGRAM_CONTAIN_MIN)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS containment
      |FROM memb a JOIN memb b ON a.uid = b.uid AND a.doc_id < b.doc_id
      |UNION ALL
      |SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
      |       GREATEST(ma.doc_id, mb.doc_id) AS doc_b, c.containment
      |FROM cross0 c JOIN memb ma ON ma.uid = c.doc_a JOIN memb mb ON mb.uid = c.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  val qDedupNgramJaccardSql: String =
    s"""WITH d0 AS (SELECT doc_id, text FROM documents
      |            WHERE LEN(string_split(text, ' ')) >= 3),
      |rep AS (SELECT text, MIN(doc_id) AS uid FROM d0 GROUP BY text),
      |memb AS (SELECT d0.doc_id, rep.uid FROM d0 JOIN rep USING (text)),
      |d AS (SELECT uid AS doc_id, string_split(text, ' ') AS ws FROM rep),
      |sh AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM d)),
      |dfc AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
      |stats AS (SELECT doc_id, COUNT(*) AS sz,
      |                 COUNT(*) FILTER (WHERE dfc.df <= $NGRAM_DF_CUT) AS rz
      |          FROM sh JOIN dfc ON dfc.sh = sh.sh GROUP BY doc_id),
      |rare AS (SELECT sh.doc_id, sh.sh FROM sh
      |         JOIN dfc ON dfc.sh = sh.sh WHERE dfc.df <= $NGRAM_DF_CUT),
      |inter_r AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_r
      |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |mostly_hot AS (SELECT doc_id FROM stats WHERE rz < $NGRAM_RAREST_K),
      |rarest_k AS (
      |  SELECT doc_id, sh FROM (
      |    SELECT sh.doc_id, sh.sh, dfc.df,
      |           ROW_NUMBER() OVER (PARTITION BY sh.doc_id
      |             ORDER BY dfc.df, sh.sh) AS _r
      |    FROM sh
      |    JOIN mostly_hot mh ON mh.doc_id = sh.doc_id
      |    JOIN dfc ON dfc.sh = sh.sh)
      |  WHERE _r <= $NGRAM_RAREST_K AND df <= $NGRAM_POSTING_DF_CAP),
      |cand AS (
      |  SELECT COALESCE(i.doc_a, c.doc_a) AS doc_a,
      |         COALESCE(i.doc_b, c.doc_b) AS doc_b,
      |         COALESCE(i.inter_r, 0) AS inter_r
      |  FROM inter_r i
      |  FULL OUTER JOIN (
      |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |    FROM rarest_k a JOIN rarest_k b
      |      ON a.sh = b.sh AND a.doc_id < b.doc_id) c
      |  ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b),
      |survivors AS (
      |  SELECT doc_a, doc_b, sa.sz AS sa, sb.sz AS sb
      |  FROM cand
      |  JOIN stats sa ON sa.doc_id = doc_a
      |  JOIN stats sb ON sb.doc_id = doc_b
      |  WHERE CAST(inter_r + LEAST(sa.sz - sa.rz, sb.sz - sb.rz) AS DOUBLE)
      |        / CAST(sa.sz + sb.sz - (inter_r + LEAST(sa.sz - sa.rz, sb.sz - sb.rz)) AS DOUBLE)
      |        >= ${NGRAM_JACCARD_MIN - 1e-6}),
      |surv_ids AS (
      |  SELECT doc_a AS doc_id FROM survivors
      |  UNION SELECT doc_b FROM survivors),
      |sh_surv AS (SELECT sh.doc_id, sh.sh FROM sh JOIN surv_ids USING (doc_id)),
      |exact AS (
      |  SELECT doc_a, doc_b, sa, sb, COUNT(*) AS inter
      |  FROM survivors
      |  JOIN sh_surv pa ON pa.doc_id = doc_a
      |  JOIN sh_surv pb ON pb.doc_id = doc_b AND pb.sh = pa.sh
      |  GROUP BY 1, 2, 3, 4),
      |cross0 AS (
      |  SELECT doc_a, doc_b,
      |         ROUND(CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE), 6) AS jaccard
      |  FROM exact
      |  WHERE ROUND(CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE), 6) >= $NGRAM_JACCARD_MIN)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
      |FROM memb a JOIN memb b ON a.uid = b.uid AND a.doc_id < b.doc_id
      |UNION ALL
      |SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
      |       GREATEST(ma.doc_id, mb.doc_id) AS doc_b, c.jaccard
      |FROM cross0 c JOIN memb ma ON ma.uid = c.doc_a JOIN memb mb ON mb.uid = c.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- #63 q_dedup_embed_cosine ------------------------------------------
  // Near-dup detection by embedding cosine, blocked by label. The
  // label is a STAND-IN block (all-pairs within it — quadratic if a
  // block grows); the scale path is #111 q_dedup_embed_bucketed,
  // whose block is derived from the vector itself (sign bands) so the
  // same bucket→re-rank shape holds at 100 TB. #63 stays as the exact
  // fixture cross-check the bucketed row's recall is measured against.
  // Unit-normalized vectors ⇒ cosine = dot product.
  val qDedupEmbedCosine: Q = (s, dir) => {
    graft.functions.FloatVecDot.register(s)
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("label").as("la"), col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("label").as("lb"), col("vec_id").as("ib"), col("embedding").as("eb"))
    a.join(b, col("la") === col("lb") && col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(expr("fvec_dot(ea, eb)"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
      .orderBy("ia", "ib")
  }

  val qDedupEmbedCosineSql: String =
    """WITH p AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |         ROUND(list_sum(list_transform(generate_series(1, LEN(a.embedding)),
      |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), 6) AS cos_sim
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT ia, ib, cos_sim FROM p WHERE cos_sim >= 0.4
      |ORDER BY ia, ib""".stripMargin

  // ---- #111 q_dedup_embed_bucketed ---------------------------------------
  // The scale-safe embedding dedup: candidates from DETERMINISTIC
  // sign-band blocking (api/EmbedBlocking — 64 bands × CORPUS-SIZED
  // bits), exact cosine ≥ 0.4 re-rank on candidates only. Since r13
  // the row runs EmbedBlocking.scaledTable (VERDICT r12 Next-round
  // #2): bits = bitLength(n−1) clamped to [8, 24], dims from the
  // closed-form affine formula — so unrelated-pair candidates stay
  // ≈ n·BANDS/2 (LINEAR in n; the frozen 8-bit table measured ~15×
  // at 10× data, the declared scale-killer this closes). Every band
  // key is integer sign arithmetic AND the table itself is integer
  // arithmetic, so the DuckDB oracle recomputes IDENTICAL candidates
  // at ANY sf — n from COUNT(*), bits by integer shift comparison,
  // dims from the same affine constants (scaledDimsCte). Unlike #63
  // it needs no label: blocking is content-derived, the candidate
  // join is a (band, key) equi-join, and nothing is all-pairs —
  // the plan that survives 100 TB (PlanSuite pins no-cartesian).
  // The e.count() is a planning-scale scalar (same audited class as
  // q_graph_pagerank's node count).
  val qDedupEmbedBucketed: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    graft.api.EmbedBlocking.dedupPairs(s, e, "vec_id", "embedding", tau = 0.4,
      table = graft.api.EmbedBlocking.scaledTable(e.count()))
  }

  val qDedupEmbedBucketedSql: String =
    s"""WITH ${graft.api.EmbedBlocking.scaledDimsCte("embeddings")},
       |k AS (
       |  SELECT e.vec_id, d.band,
       |         SUM(CASE WHEN e.embedding[d.dim + 1] >= 0 THEN 1 << d.bit ELSE 0 END) AS key
       |  FROM embeddings e CROSS JOIN dims d GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM k a JOIN k b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT ia, ib,
       |         ROUND(list_sum(list_transform(generate_series(1, 64),
       |           i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))), 6) AS cos_sim
       |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.ia
       |            JOIN embeddings eb ON eb.vec_id = cand.ib)
       |SELECT ia, ib, cos_sim FROM p WHERE cos_sim >= 0.4 ORDER BY ia, ib""".stripMargin

  // ---- #64 q_text_langid -------------------------------------------------
  // N-gram-profile language ID: profile = each lang's top-10 terms by
  // tf-idf; a doc's predicted lang = argmax of summed profile weights
  // over its words. Weights are integerized (round(tfidf·1e6)) so the
  // per-(doc,lang) sums are exact in both engines — no float-reduction
  // ordering hazard.
  val qTextLangid: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
    // df from the cached tf aggregate (|langs|·|vocab| rows), not a
    // second pass over the corpus-sized words relation
    val tf = words.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf")).cache()
    val df = tf.select(col("lang"), col("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nLangs = docs.agg(countDistinct(col("lang")).as("n_langs"))
    val weights = tf.join(df, "term").crossJoin(broadcast(nLangs))
      .select(col("lang").as("plang"), col("term"),
        expr("CAST(ROUND(CAST(tf AS DOUBLE) * LN(CAST(n_langs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("w"))
    val profile = weights
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("plang")).orderBy(col("w").desc, col("term"))))
      .filter(col("rn") <= 10).drop("rn")
    val scores = words.join(profile, "term")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(sum(col("w")).as("score"))
    scores
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("plang").as("predicted"),
        (col("lang") === col("plang")).cast("int").as("correct"))
      .orderBy("doc_id")
  }

  val qTextLangidSql: String =
    """WITH words AS (
      |  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT lang, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT lang) AS df FROM words GROUP BY 1),
      |nl AS (SELECT COUNT(DISTINCT lang) AS n_langs FROM documents),
      |weights AS (
      |  SELECT tf.lang AS plang, tf.term,
      |         CAST(ROUND(CAST(tf.tf AS DOUBLE)
      |           * LN(CAST(nl.n_langs AS DOUBLE) / CAST(df.df AS DOUBLE)) * 1000000) AS BIGINT) AS w
      |  FROM tf JOIN df USING (term) CROSS JOIN nl),
      |profile AS (
      |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY plang
      |    ORDER BY w DESC, term) AS rn FROM weights) WHERE rn <= 10),
      |scores AS (
      |  SELECT w.doc_id, w.lang, p.plang, SUM(p.w) AS score
      |  FROM words w JOIN profile p USING (term)
      |  GROUP BY 1, 2, 3)
      |SELECT doc_id, lang, plang AS predicted,
      |       CAST(lang = plang AS INT) AS correct
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, plang) AS rn FROM scores)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // ---- #65 q_text_quality ------------------------------------------------
  // Quality heuristics: word count, derived avg word length, stopword
  // ratio (vs the global top-20 words), length score. Each float is a
  // single division/min from exact integers → deterministic, then
  // rounded.
  val qTextQuality: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val stop = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20).select(col("word"))
    val stopHits = words.join(broadcast(stop), "word")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("stop_hits"))
    docs
      .join(stopHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        col("n_chars"),
        coalesce(col("stop_hits"), lit(0L)).as("stop_hits"))
      .select(col("doc_id"), col("n_words"),
        round((col("n_chars") - (col("n_words") - 1)).cast("double") /
          col("n_words").cast("double"), 6).as("avg_word_len"),
        round(col("stop_hits").cast("double") / col("n_words").cast("double"), 6)
          .as("stop_ratio"),
        round(least(col("n_chars").cast("double") / 500.0, lit(1.0)), 6).as("len_score"))
      .orderBy("doc_id")
  }

  val qTextQualitySql: String =
    """WITH words AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
      |stop AS (SELECT word FROM (SELECT word, COUNT(*) AS cnt FROM words GROUP BY 1
      |         ORDER BY cnt DESC, word LIMIT 20)),
      |hits AS (SELECT doc_id, COUNT(*) AS stop_hits
      |         FROM words JOIN stop USING (word) GROUP BY doc_id),
      |base AS (
      |  SELECT d.doc_id, LEN(string_split(d.text, ' ')) AS n_words, d.n_chars,
      |         COALESCE(h.stop_hits, 0) AS stop_hits
      |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
      |SELECT doc_id, CAST(n_words AS INT) AS n_words,
      |       ROUND(CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS avg_word_len,
      |       ROUND(CAST(stop_hits AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS stop_ratio,
      |       ROUND(LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0), 6) AS len_score
      |FROM base
      |ORDER BY doc_id""".stripMargin

  // ---- #66 q_text_tokens -------------------------------------------------
  // Whitespace tokens + a BPE-ish greedy subword count (≤4-char
  // chunks): same greedy regex semantics in Java and DuckDB's RE2.
  val qTextTokens: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]{1,4}|[0-9]{1,4}")).as("bpe_tokens"))
      // nullif guard: a doc with no [a-z0-9] runs has bpe_tokens = 0,
      // where Spark (non-ANSI) yields NULL but DuckDB yields inf —
      // make both sides NULL explicitly.
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        round(length(col("text")).cast("double") /
          nullif(col("bpe_tokens"), lit(0)).cast("double"), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")

  val qTextTokensSql: String =
    """SELECT doc_id,
      |       CAST(LEN(string_split(text, ' ')) AS INT) AS ws_tokens,
      |       CAST(LEN(regexp_extract_all(text, '[a-z]{1,4}|[0-9]{1,4}')) AS INT) AS bpe_tokens,
      |       ROUND(CAST(LENGTH(text) AS DOUBLE)
      |             / CAST(NULLIF(LEN(regexp_extract_all(text, '[a-z]{1,4}|[0-9]{1,4}')), 0) AS DOUBLE), 6) AS chars_per_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- #67 q_text_fingerprint --------------------------------------------
  // Winnowing-style document fingerprint: min md5 over the doc's
  // 5-gram shingles (a 1-permutation MinHash). Docs sharing a
  // fingerprint are near-dup candidates; n_share counts the cluster.
  val qTextFingerprint: Q = (s, dir) => {
    val fp = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 5), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))"))
        .as("sh"))
      .groupBy(col("doc_id")).agg(min(md5(col("sh"))).as("fingerprint"))
    fp.withColumn("n_share",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .orderBy("doc_id")
  }

  val qTextFingerprintSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE LEN(string_split(text, ' ')) >= 5),
      |sh AS (SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 4),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
      |  FROM d),
      |fp AS (SELECT doc_id, MIN(MD5(sh)) AS fingerprint FROM sh GROUP BY doc_id)
      |SELECT doc_id, fingerprint,
      |       COUNT(*) OVER (PARTITION BY fingerprint) AS n_share
      |FROM fp
      |ORDER BY doc_id""".stripMargin

  // ---- #82 q_text_topk_words ---------------------------------------------
  // Grouped frequent-items via the Misra–Gries sketch (FrequentItems
  // Aggregator): top-5 words per language, bounded state per group
  // whatever the vocabulary. Capacity 64 ≥ the fixture's 31-word
  // vocabulary, so every count is provably EXACT (no decrement ever
  // fires — asserted in ExtrasSuite) and the exact-SQL oracle applies;
  // at real corpus scale the same query runs with the same capacity
  // and degrades gracefully to the N/(capacity+1) undercount bound.
  val TOPK_WORDS_CAPACITY = 64

  val qTextTopkWords: Q = (s, dir) => {
    val mg = udaf(new graft.functions.FrequentItems(TOPK_WORDS_CAPACITY))
    val counters = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang")).agg(mg(col("word")).as("counters"))
    val ranked = counters
      .select(col("lang"), explode(col("counters")).as(Seq("word", "cnt")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("word"))))
      .filter(col("rank") <= 5)
    ranked.select(col("lang"), col("rank"), col("word"), col("cnt"))
      .orderBy("lang", "rank")
  }

  val qTextTopkWordsSql: String =
    """WITH w AS (SELECT lang, UNNEST(string_split(text, ' ')) AS word
      |           FROM documents),
      |c AS (SELECT lang, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
      |r AS (SELECT lang, word, cnt,
      |             ROW_NUMBER() OVER (PARTITION BY lang
      |               ORDER BY cnt DESC, word) AS rank
      |      FROM c)
      |SELECT lang, CAST(rank AS INT) AS rank, word, cnt
      |FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  // ---- #83 q_decontaminate -----------------------------------------------
  // Benchmark decontamination — the cross-set counterpart of dedup: a
  // TRAIN doc is contaminated if it shares >= DECON_MIN_SHARED distinct
  // 5-gram shingles with any EVAL doc (the GPT-3-style n-gram overlap
  // check; eval here = doc_id < 20, standing in for a benchmark
  // suite). Scale shape: the eval side is benchmark-sized by
  // definition, so its shingle set BROADCASTS and the corpus is
  // touched in one linear pass — no self-join at all.
  val DECON_MIN_SHARED = 3

  // per-doc array_distinct == distinct on (doc_id, sh), without the
  // global shuffle (same move as ngramJaccardPairs above)
  private[graft] def shingles5(base: DataFrame): DataFrame = base
    .select(col("doc_id"), split(col("text"), " ").as("ws"))
    .filter(size(col("ws")) >= 5)
    .select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(0, size(ws) - 5), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))")))
      .as("sh"))

  val qDecontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val ev = shingles5(docs.filter(col("doc_id") < 20))
      .select(col("doc_id").as("eval_doc"), col("sh"))
    val tr = shingles5(docs.filter(col("doc_id") >= 20))
      .select(col("doc_id").as("train_doc"), col("sh"))
    tr.join(broadcast(ev), "sh")
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= DECON_MIN_SHARED)
      .orderBy("train_doc", "eval_doc")
      .select(col("train_doc"), col("eval_doc"), col("n_shared"))
  }

  val qDecontaminateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE LEN(string_split(text, ' ')) >= 5),
      |sh AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 4),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
      |  FROM d)),
      |ev AS (SELECT doc_id AS eval_doc, sh FROM sh WHERE doc_id < 20),
      |tr AS (SELECT doc_id AS train_doc, sh FROM sh WHERE doc_id >= 20)
      |SELECT train_doc, eval_doc, COUNT(*) AS n_shared
      |FROM tr JOIN ev USING (sh)
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= $DECON_MIN_SHARED
      |ORDER BY train_doc, eval_doc""".stripMargin

  // ---- #84 q_sample_mix ---------------------------------------------------
  // Deterministic mixture sampling — training-data mixing without
  // RNG: per-source sampling rates derived from an md5 hash of the
  // source name (rate = 10 + h(source) % 80, i.e. 10–89 %), membership
  // decided by h(doc_id) % 100 < rate. Hash-gated sampling is the
  // shape that matters at scale: reproducible across runs/engines,
  // embarrassingly parallel, no sampling state, and re-weighting a
  // source only flips that source's rows. Exactly oracle-checked
  // (identical md5 arithmetic both engines).
  private val SPARK_HASH4 = (c: String) =>
    s"CAST(conv(substring(md5($c), 1, 4), 16, 10) AS BIGINT)"
  private val DUCK_HASH4 = (c: String) =>
    s"""CAST(list_sum(list_transform(generate_series(1, 4),
       |  i -> (CAST(strpos('0123456789abcdef', substring(md5($c), i, 1)) AS BIGINT) - 1)
       |       << (4 * (4 - i)))) AS BIGINT)""".stripMargin

  val qSampleMix: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("rate", expr(s"10 + ${SPARK_HASH4("source")} % 80"))
      .filter(expr(s"${SPARK_HASH4("CAST(doc_id AS STRING)")} % 100") < col("rate"))
      .select(col("doc_id"), col("source"), col("rate").cast("int").as("rate"))
      .orderBy("doc_id")

  val qSampleMixSql: String =
    s"""SELECT doc_id, source,
      |       CAST(10 + ${DUCK_HASH4("source")} % 80 AS INT) AS rate
      |FROM documents
      |WHERE ${DUCK_HASH4("CAST(doc_id AS VARCHAR)")} % 100
      |      < 10 + ${DUCK_HASH4("source")} % 80
      |ORDER BY doc_id""".stripMargin

  // ---- #116 q_sample_stratified ------------------------------------------
  // Deterministic BALANCED sampling: exactly N docs per language
  // stratum, ranked by md5(doc_id) — the class-balancing counterpart
  // of #84's rate gate (a rate gate keeps strata proportional;
  // training mixes routinely need per-class caps/floors instead).
  // Hash-order rank is reproducible across runs and engines with no
  // RNG state, and adding documents only displaces rows at the hash
  // boundary. Shape: ONE per-stratum window (strata = languages, a
  // handful — the exchange hashes |strata| keys); for web-scale
  // strata where a per-stratum sort hurts, the hash-gate (#84) with a
  // per-stratum rate is the pressure-relief valve, same determinism.
  val STRATIFIED_N = 10
  val qSampleStratified: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= STRATIFIED_N)
      .select(col("lang"), col("doc_id"), col("rk").cast("bigint").as("rk"))
      .orderBy("lang", "rk")

  val qSampleStratifiedSql: String =
    s"""SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= $STRATIFIED_N
      |ORDER BY lang, rk""".stripMargin

  // ---- #120 q_train_split (added r11) ------------------------------------
  // Deterministic train/val/test assignment — the LAST step of every
  // training-data pipeline: split membership must be a pure function
  // of the stable doc id (reproducible across runs, engines, and
  // re-shards; no RNG state, no seed file). Bucket = first hex char
  // of md5(doc_id) (same cross-engine-verified md5 idiom as #116):
  // '0'..'c' → train (13/16 ≈ 81%), 'd' → val (~6%), 'e'/'f' → test
  // (~13%). Pure projection — embarrassingly parallel, NO shuffle at
  // any scale (the output ORDER BY is the driver-compare harness,
  // not the operator).
  val qTrainSplit: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1).as("_b"))
      .select(col("doc_id"), col("lang"),
        when(col("_b") <= "c", "train")
          .when(col("_b") === "d", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  val qTrainSplitSql: String =
    """SELECT doc_id, lang,
      |       CASE WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
      |            WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'd' THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- #122 q_text_pii_scrub (added r11; widened r12) --------------------
  // PII redaction (api/PiiScrub): mask emails, IPv6/IPv4 addresses,
  // Luhn-gated card numbers, phones (E.164 + separated), and long
  // digit runs with typed placeholders; count what each rule masked
  // per doc. The fixture corpus is PII-free by construction, so the
  // oracled row first augments each doc with a DETERMINISTIC
  // synthetic suffix carrying one instance of EVERY pattern class
  // (a pure function of doc_id — both engines derive the identical
  // string, so the masking mechanics are fully hash-checked
  // end-to-end: counts AND the scrubbed text itself). The card is
  // Luhn-VALID for even doc_ids and Luhn-INVALID for odd ones, so
  // the checksum gate is exercised in both directions on every other
  // row. Patterns live in the Java∩RE2 regex intersection (§2.5) and
  // the Luhn arithmetic is the same HOF formula in both engines.
  // Pure projection — no shuffle at any scale.
  val qTextPiiScrub: Q = (s, dir) => {
    val aug = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"), lit("@ex.com"),
          lit(" ref "), (col("doc_id") * 1000000007L).cast("string"),
          lit(" ip 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(".0."), pmod(col("doc_id") * 7, lit(256L)).cast("string"),
          lit(" v6 2001:0db8:0000:0000:0000:0000:0000:"),
          lpad(lower(hex(pmod(col("doc_id"), lit(65536L)))), 4, "0"),
          lit(" card "),
          when(pmod(col("doc_id"), lit(2L)) === 0, "4111-1111-1111-1111")
            .otherwise("4111-1111-1111-1112"),
          lit(" call +1415"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" tel 415-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")).as("text"))
    graft.api.PiiScrub.scrub(aug, "text")
      .select(col("doc_id"), col("lang"), col("nemail"), col("nipv6"),
        col("nipv4"), col("ncard"), col("nphone"), col("nphonesep"),
        col("nid"), col("text"))
      .orderBy("doc_id")
  }

  // DuckDB mirror: the same rule ladder as PiiScrub.DEFAULT_RULES,
  // one CTE per rule so each count sees the text AFTER earlier
  // replacements (the audit-what-was-replaced semantics). The Luhn
  // gate is list_filter + the identical mod-10 HOF formula;
  // list_reduce(list_prepend(t, valid), replace) is DuckDB's
  // spelling of Spark's aggregate(valid, t, replace).
  private def duckLuhn(x: String): String = {
    val clean = s"regexp_replace($x, '[ -]', '', 'g')"
    val dig = s"(ascii(substr(reverse($clean), i, 1)) - 48)"
    s"list_sum(list_transform(generate_series(1, length($clean)), i -> " +
      s"CASE WHEN i % 2 = 0 THEN CASE WHEN $dig * 2 > 9 THEN $dig * 2 - 9 " +
      s"ELSE $dig * 2 END ELSE $dig END)) % 10 = 0"
  }

  val qTextPiiScrubSql: String = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipv6 = "[0-9a-f]{1,4}(:[0-9a-f]{1,4}){7}"
    val ipv4 = "[0-9]{1,3}(\\.[0-9]{1,3}){3}"
    val card = "[0-9]{4}([ -]?[0-9]{4}){3}"
    val phone = "\\+[0-9]{7,15}"
    val phonesep = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val id = "[0-9]{9,}"
    def stage(prev: String, cur: String, carried: Seq[String], cnt: String,
        pat: String, repl: String): String =
      s"$cur AS (SELECT doc_id, lang${carried.map(", " + _).mkString}, " +
        s"CAST(LEN(regexp_extract_all(t, '$pat', 0)) AS BIGINT) AS $cnt, " +
        s"regexp_replace(t, '$pat', '$repl', 'g') AS t FROM $prev)"
    s"""WITH aug AS (
       |  SELECT doc_id, lang,
       |         text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com ref '
       |              || CAST(doc_id * 1000000007 AS VARCHAR)
       |              || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
       |              || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       |              || ' v6 2001:0db8:0000:0000:0000:0000:0000:' || printf('%04x', doc_id % 65536)
       |              || ' card ' || CASE WHEN doc_id % 2 = 0 THEN '4111-1111-1111-1111'
       |                                  ELSE '4111-1111-1111-1112' END
       |              || ' call +1415' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              || ' tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents),
       |${stage("aug", "s1", Nil, "nemail", email, "<EMAIL>")},
       |${stage("s1", "s2", Seq("nemail"), "nipv6", ipv6, "<IPV6>")},
       |${stage("s2", "s3", Seq("nemail", "nipv6"), "nipv4", ipv4, "<IPV4>")},
       |s3c AS (SELECT doc_id, lang, nemail, nipv6, nipv4,
       |  list_filter(regexp_extract_all(t, '$card', 0), x -> ${duckLuhn("x")}) AS valid, t FROM s3),
       |s4 AS (SELECT doc_id, lang, nemail, nipv6, nipv4,
       |  CAST(LEN(valid) AS BIGINT) AS ncard,
       |  list_reduce(list_prepend(t, valid), (acc, x) -> replace(acc, x, '<CARD>')) AS t FROM s3c),
       |${stage("s4", "s5", Seq("nemail", "nipv6", "nipv4", "ncard"), "nphone", phone, "<PHONE>")},
       |${stage("s5", "s6", Seq("nemail", "nipv6", "nipv4", "ncard", "nphone"), "nphonesep", phonesep, "<PHONE>")},
       |${stage("s6", "s7", Seq("nemail", "nipv6", "nipv4", "ncard", "nphone", "nphonesep"), "nid", id, "<ID>")}
       |SELECT doc_id, lang, nemail, nipv6, nipv4, ncard, nphone, nphonesep, nid, t AS text
       |FROM s7 ORDER BY doc_id""".stripMargin
  }

  // ---- #86 q_text_repetition (added r6) ----------------------------------
  // Gopher-style repetition signal: the fraction of a doc's 2-gram
  // occurrences covered by its single most frequent 2-gram, plus the
  // distinct-gram fraction. High max fraction = looping/boilerplate
  // text — a standard corpus-filter rule alongside q_text_quality.
  // Shape: one explode + two aggregations, linear, no joins.
  private[graft] def repetitionStats(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1]))"))
        .as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_grams"),
        max(col("c")).as("max_c"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"),
        round(col("max_c").cast("double") / col("n_grams").cast("double"), 6)
          .as("max_gram_frac"),
        round(col("n_distinct").cast("double") / col("n_grams").cast("double"), 6)
          .as("uniq_frac"))
      .orderBy("doc_id")
  }

  val qTextRepetition: Q = (s, dir) => repetitionStats(Tables.documents(s, dir))

  val qTextRepetitionSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE LEN(string_split(text, ' ')) >= 2),
      |g AS (SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1])) AS g FROM d),
      |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
      |       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS max_gram_frac,
      |       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS uniq_frac
      |FROM c GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------------
  // ---- #98 q_seq_packing -------------------------------------------------
  // Sequence packing — assign docs to fixed-token-budget context
  // windows, the step between curation and tokenized training shards.
  // Greedy sequential fill is inherently ordered, so the SCALE shape
  // is per-(lang, shard): each shard packs independently inside its
  // own window partition (shard = a doc_id range here; any stable
  // bucketing works), which keeps every partition bounded and the
  // whole pack one exchange — a single global ordering would funnel
  // the corpus through one task. pack_id = floor(tokens-before /
  // budget): a doc straddling a boundary belongs to the window its
  // FIRST token falls in (windows may overflow the budget by < one
  // doc — the standard greedy-packing contract; nothing splits).
  val PACK_BUDGET = 512
  val qSeqPacking: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        floor(col("doc_id") / lit(2000.0)).cast("bigint").as("shard"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("prev_tokens", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .groupBy(col("lang"), col("shard"),
        floor(col("prev_tokens") / lit(PACK_BUDGET.toDouble)).cast("bigint").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "shard", "pack_id")
  }

  val qSeqPackingSql: String =
    """WITH t AS (SELECT doc_id, lang,
      |                  CAST(FLOOR(doc_id / 2000.0) AS BIGINT) AS shard,
      |                  CAST(LEN(string_split(text, ' ')) AS INT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
      |                 ROWS UNBOUNDED PRECEDING) - n_tokens AS prev_tokens FROM t)
      |SELECT lang, shard, CAST(FLOOR(prev_tokens / 512.0) AS BIGINT) AS pack_id,
      |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY lang, shard, pack_id ORDER BY lang, shard, pack_id""".stripMargin

  // ---- #100 q_curate_flagship --------------------------------------------
  // The LLM-pipeline composite the per-operator rows never exercise
  // TOGETHER — the full curation funnel as ONE declarative query:
  //   quality gate (>= 40 words, pruning BEFORE any shingling pays)
  //   → near-dup collapse (keep min doc_id per winnowing fingerprint,
  //     #67's arithmetic — a groupBy, never an all-pairs compare)
  //   → decontamination (#83's shingle overlap vs the eval slice,
  //     eval side broadcast)
  //   → per-lang corpus summary (docs, tokens, avg chars — all
  //     partial-mergeable).
  // Every stage is the exact arithmetic of its standalone row, so the
  // whole funnel stays DuckDB-oracle-checkable end-to-end; at scale
  // each stage keeps its standalone plan shape (the composition adds
  // no new shuffle beyond the stages' own).
  // Scale routing (r15 cross-link): this funnel's near-dup stage is a
  // winnowing-fingerprint groupBy — deliberately NOT the exact
  // inverted-index shapes. If a caller swaps in the exact pairwise
  // stages (q_dedup_containment / q_dedup_ngram_jaccard semantics):
  // on df-saturated corpora those shapes are Σ df²-bound, and the
  // df-independent banded rows #71 q_dedup_minhash_df / #138
  // q_dedup_contain_minhash are the composition-safe replacements
  // (same pair semantics at banding recall, measured ~linear across
  // two decades).
  val qCurateFlagship: Q = (s, dir) => {
    val q = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 40)
    val sh = q.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(ws) - 5), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))"))
      .as("sh"))
    // keep-from-distinct was tried in r19 session 2 (min is
    // duplicate-insensitive, so aggregating over sh.distinct() would
    // let keep share the decon legs' distinct subtree) — Catalyst's
    // RemoveRedundantAggregates rewrites that shape straight back to
    // this one (plans byte-identical, timing identical, outputs
    // identical; OPTIMIZATION_r19.md batch 5, item 4). The raw-sh
    // aggregate is the optimizer's own normal form.
    val keep = sh.groupBy(col("doc_id")).agg(min(md5(col("sh"))).as("fingerprint"))
      .groupBy(col("fingerprint")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val shd = sh.distinct()
    val flagged = shd.filter(col("doc_id") >= 20)
      .join(broadcast(shd.filter(col("doc_id") < 20)
        .select(col("doc_id").as("ev"), col("sh"))), "sh")
      .groupBy(col("doc_id"), col("ev")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= DECON_MIN_SHARED)
      .select("doc_id").distinct()
    q.join(keep, "doc_id")
      .filter(col("doc_id") >= 20)
      .join(flagged, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ws"))).cast("bigint").as("n_tokens"),
        round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
      .orderBy("lang")
  }

  val qCurateFlagshipSql: String =
    s"""WITH q AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ws
      |           FROM documents WHERE LEN(string_split(text, ' ')) >= 40),
      |sh AS (SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 4),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS sh
      |       FROM q),
      |keep AS (SELECT MIN(doc_id) AS doc_id FROM
      |          (SELECT doc_id, MIN(MD5(sh)) AS fingerprint FROM sh GROUP BY doc_id)
      |         GROUP BY fingerprint),
      |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
      |flagged AS (SELECT t.doc_id
      |            FROM (SELECT doc_id, sh FROM shd WHERE doc_id >= 20) t
      |            JOIN (SELECT doc_id AS ev, sh FROM shd WHERE doc_id < 20) e USING (sh)
      |            GROUP BY t.doc_id, e.ev HAVING COUNT(*) >= $DECON_MIN_SHARED),
      |cur AS (SELECT q.* FROM q
      |        JOIN keep USING (doc_id)
      |        WHERE q.doc_id >= 20
      |          AND q.doc_id NOT IN (SELECT doc_id FROM flagged))
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(LEN(ws)) AS BIGINT) AS n_tokens,
      |       ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
      |FROM cur GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_curate_flagship" -> qCurateFlagship,
    "q_seq_packing" -> qSeqPacking,
    "q_text_repetition" -> qTextRepetition,
    "q_text_topk_words" -> qTextTopkWords,
    "q_decontaminate" -> qDecontaminate,
    "q_sample_mix" -> qSampleMix,
    "q_sample_stratified" -> qSampleStratified,
    "q_train_split" -> qTrainSplit,
    "q_text_pii_scrub" -> qTextPiiScrub,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccard,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_embed_cosine" -> qDedupEmbedCosine,
    "q_dedup_embed_bucketed" -> qDedupEmbedBucketed,
    "q_text_langid" -> qTextLangid,
    "q_text_quality" -> qTextQuality,
    "q_text_tokens" -> qTextTokens,
    "q_text_fingerprint" -> qTextFingerprint,
  )

  val oracleSql: Map[String, String] = Map(
    "q_curate_flagship" -> qCurateFlagshipSql,
    "q_seq_packing" -> qSeqPackingSql,
    "q_text_repetition" -> qTextRepetitionSql,
    "q_text_topk_words" -> qTextTopkWordsSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_sample_mix" -> qSampleMixSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_train_split" -> qTrainSplitSql,
    "q_text_pii_scrub" -> qTextPiiScrubSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccardSql,
    "q_dedup_containment" -> qDedupContainmentSql,
    "q_dedup_embed_cosine" -> qDedupEmbedCosineSql,
    "q_dedup_embed_bucketed" -> qDedupEmbedBucketedSql,
    "q_text_langid" -> qTextLangidSql,
    "q_text_quality" -> qTextQualitySql,
    "q_text_tokens" -> qTextTokensSql,
    "q_text_fingerprint" -> qTextFingerprintSql,
  )
}
