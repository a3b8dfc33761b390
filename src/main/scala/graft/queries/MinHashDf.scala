package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Pure-DataFrame MinHash + LSH banding (SURVEY.md §2B row 71) — the
  * engine-portable alternative to the MLlib wrapper (#53):
  *
  *   shingles → k=12 universal-hash minima (one groupBy, 12 min-aggs)
  *   → 6 bands of r=2 → band self-join = candidate pairs
  *   → EXACT Jaccard (relational shingle intersection) on candidates
  *   → pairs with distance ≤ 0.5.
  *
  * Everything is deterministic md5-derived integer arithmetic, so the
  * DuckDB oracle reproduces the EXACT same candidate set and output —
  * this is the only hash-based fuzzy-dedup in the inventory with a
  * full oracle. It is also the 100 TB shape: one corpus pass for
  * signatures, band join ~linear in docs, exact distances only on
  * candidates. In particular the banding is df-INDEPENDENT — on a
  * df-saturated corpus (where the exact inverted-index rows #62/#109
  * are Σ df²-bound), rows #71/#138 here are the declared scale paths
  * (measured ~linear at 10×, BASELINE.md).
  *
  * Overflow safety (both engines use signed 64-bit): shingles are
  * carried as a 60-bit md5 prefix (15 hex digits, r15 — compact
  * shuffle keys; see bandedCandidates); the SIGNATURE hash is its
  * top 28 bits (h >> 32 = digits 1-7, the historical value),
  * multipliers < 2^31, so a·h₂₈ + b < 2^59 < Long.Max.
  */
object MinHashDf {
  type Q = (SparkSession, String) => DataFrame

  // shared with api/NearDupStream (the streaming near-dup path must
  // hash identically or its matches diverge from this oracled row)
  private[graft] val P = 2147483659L // prime > 2^31
  private[graft] val A = Seq(1103515245L, 1665525893L, 1234567891L, 1853977123L,
    998244353L, 1500000001L, 1676943757L, 1431655751L,
    1288490189L, 2027100467L, 1073807359L, 1990000033L)
  private[graft] val B = Seq(12345L, 987654321L, 555555555L, 111111111L,
    222222223L, 777777777L, 333333331L, 444444443L,
    666666667L, 888888881L, 142857143L, 314159265L)
  private[graft] val NUM_BANDS = 6 // r = 2 rows per band

  /** Shared candidate pipeline: shingles (with 28-bit md5 hash) →
    * one-pass signatures+sizes → r=2 bands → banded candidate pairs.
    * Returns (candidate-doc postings, sigs, cand) — #71 scores
    * candidates by exact Jaccard, #138 by exact CONTAINMENT; the
    * subtrees are byte-identical so the two rows can never drift
    * apart. The returned postings are pre-pruned to candidate docs
    * (broadcast semi-join below) — identical join results, corpus-
    * independent shuffle volume. */
  private[graft] def bandedCandidates(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // distinct 3-shingles, carried as a 60-BIT md5 prefix from the
    // explode on (r15, third finding of the 1000× probe): the shingle
    // STRING must never reach a shuffle — at sf100 the postings are
    // ~500M rows and every string-keyed stage (cache spill, collect,
    // intersection joins) multiplied into a >55 GB cumulative shuffle
    // footprint that filled the box. The 60-bit prefix is the same
    // deterministic md5 arithmetic both engines already share, so the
    // DuckDB oracle computes the identical key; the 28-bit signature
    // hash is EXACTLY its top bits (digits 1-7 of 1-15 ⇒ h >> 32), so
    // every signature value is bit-identical to the old code. Shingle
    // identity becomes 60-bit-key identity: two DISTINCT shingles of
    // one pair colliding would perturb an intersection count with
    // probability ~|union|²/2⁶¹ ≈ 1e-14 per pair — and identically in
    // both engines, so oracle parity is preserved by construction.
    // The per-doc dedup is array_distinct on STRINGS before the
    // explode — identical to a global distinct on (doc_id, sh), minus
    // its full shuffle; `sz` therefore counts distinct strings,
    // unchanged.
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
        .as("sh"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT)").as("h"))
      // consumed 2× (signatures+sizes, intersection postings); 16 B/row
      // after the r15 integer keys — but still CORPUS-sized, the one
      // cache here that grows with data. DISK_ONLY, measured against
      // MEMORY_AND_DISK at three scales (r16, fresh JVMs; BASELINE.md
      // r16 postings-storage note): equal-or-faster everywhere (sf0.1
      // 2.01 vs 2.09 s; g10 min 15.0 vs 16.2 s; g100 42.6 vs 46.4 s —
      // sequential columnar re-read beats holding 16 B/row rows on a
      // pressured heap) and, decisive at 100 TB, it keeps the engine's
      // one corpus-sized cache out of executor memory entirely.
      .persist(StorageLevel.DISK_ONLY)
    // k signatures AND the doc's shingle count in ONE aggregation pass
    // (sizes ride along — no second groupBy over the postings);
    // (h >> 32) is the historical 28-bit hash, bit-for-bit
    val sigCols = A.indices.map(i =>
      min(expr(s"(${A(i)}L * (h >> 32) + ${B(i)}L) % ${P}L")).as(s"sig$i")) :+
      count(lit(1)).as("sz")
    val sigs = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
      .cache() // consumed 2× (bands + sizes)
    // bands of r=2 → (band_idx, v1, v2)
    val bandStructs = (0 until NUM_BANDS).map(bi =>
      s"struct(${bi} AS band, sig${2 * bi} AS v1, sig${2 * bi + 1} AS v2)")
    val bands = sigs.select(col("doc_id"),
        explode(expr(s"array(${bandStructs.mkString(", ")})")).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.v1"), col("b.v2"))
    // OPTIONAL band-bucket cap (spark.graft.minhash.maxBucket, r15;
    // default 0 = off, exact semantics, oracle untouched): the 1000×
    // probe exposed the regime where banding itself stops being
    // linear — a corpus whose shingle space does NOT grow with it
    // (GenScale's fixed 31-word vocabulary: 29.8k possible shingles
    // under 5M docs) saturates the signature space, and band buckets
    // go hot (measured: 578M pre-distinct candidate pairs at sf100 vs
    // the 7.1M a structure-preserving corpus would give; max bucket
    // 7 627 docs ⇒ 29M pairs from ONE bucket). No rescore plan
    // survives a candidate set that is itself quadratic, so the
    // production safeguard is the standard LSH trade: drop buckets
    // larger than the cap (they carry almost no precision — a bucket
    // that big is signature-space exhaustion, not similarity) and
    // keep everything else exact. One cheap aggregate over bands +
    // a broadcast anti-join on the (few) hot keys when enabled.
    // NOTE (ADVICE r15 #3): with maxBucket > 0 the engine output
    // INTENTIONALLY diverges from the shipped (uncapped) oracleSql —
    // verify/digest runs against it must unset the conf.
    val maxBucket = docs.sparkSession.conf
      .getOption("spark.graft.minhash.maxBucket")
      .map(s => s.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
        s"spark.graft.minhash.maxBucket must be a non-negative integer, got '$s'")))
      .getOrElse(0L)
    val bandsEff = if (maxBucket > 0) {
      val hot = bands.groupBy(col("band"), col("v1"), col("v2"))
        .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
        .select(col("band"), col("v1"), col("v2"))
      bands.join(broadcast(hot), Seq("band", "v1", "v2"), "left_anti")
    } else bands
    // candidate pairs: same band values, deduped. Cached — consumed
    // 3× downstream (candidate-doc set, intersection probe, final
    // left join) and pairs-sized by construction, so the cache is
    // cheap and saves re-running the band self-join.
    val cand = bandsEff.as("x").join(bandsEff.as("y"),
        col("x.band") === col("y.band") && col("x.v1") === col("y.v1") &&
          col("x.v2") === col("y.v2") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .cache()
    // Intersection postings pruned to CANDIDATE DOCS ONLY (r15, found
    // by the 1000× probe): the exact-rescore joins are the only
    // consumers of `sh` after the signature pass, and they can only
    // match postings of docs that appear in some candidate pair — but
    // without an explicit filter Spark shuffles the ENTIRE postings
    // table (doc_id + shingle STRING per row) through both
    // intersection joins: ~500M rows / >50 GB of shuffle write at
    // sf100, which filled the box's disk and killed the row while the
    // logical result needed ~10% of it. The candidate-doc set is
    // output-sized (∝ duplicate pairs, NOT corpus — the same df-free
    // banding argument that makes this the scale path), so a
    // broadcast left-semi prunes postings WITHOUT re-shuffling them:
    // at 100 TB the candidate set is exactly what a driver can still
    // broadcast while the corpus is exactly what it cannot shuffle
    // twice.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shCand = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    (shCand, sigs, cand)
  }

  /** Exact per-pair shingle-intersection counts for the candidate
    * pairs. Shape (r15, second finding of the 1000× probe): the old
    * relational recount — join cand to postings of doc_a, join THAT
    * to postings on (doc_b, sh), groupBy pair — materializes a
    * pairs × shingles-per-doc intermediate and shuffles it twice
    * (~400M (pair, shingle-string) rows / >55 GB transient shuffle at
    * sf100 — it filled the box's disk even after the candidate-doc
    * pruning). This shape collects each CANDIDATE doc's distinct
    * shingle set once (one shuffle of candidate postings, array rows
    * after), joins the two arrays onto each pair, and counts the
    * intersection inside a codegen projection
    * (`size(array_intersect)`) — exact string-set intersection,
    * bit-identical counts, but shuffle volume ∝ candidate docs +
    * pairs instead of pairs × doc length. Every cand pair is present
    * (inter ≥ 0), a superset of the old matched-only rows — callers'
    * LEFT join + coalesce semantics are unchanged. */
  private def exactIntersections(cand: DataFrame, shCand: DataFrame): DataFrame = {
    // collect_set: dedups the (collision-only) repeated h per doc, so
    // size(array_intersect) counts DISTINCT common keys — the same
    // quantity the oracle's DISTINCT-postings join counts.
    // Cached (r16, ADVICE r15 #2): `sets` feeds TWO joins (doc_a and
    // doc_b sides); without the cache the groupBy can run twice and
    // the second join re-shuffles the set table. It is candidate-doc
    // sized (one array row per candidate doc), so the cache is small
    // relative to the postings it replaced. Shuffle volume of the
    // joins themselves is ∝ candidate docs (sets side) + pairs (cand
    // side) per join — two joins, so up to 2× that, not the
    // pairs×shingles explosion of the pre-r15 shape.
    //
    // sz rides the same aggregation (r18 optimization round): shCand
    // is a SEMI-join prune — it keeps every posting of every kept
    // doc — so count(*) here equals the doc's full distinct-shingle
    // count (sigs.sz) for every candidate doc. Carrying it through
    // these joins lets the scoring rows drop their two extra
    // sizes-joins (and the redundant cand LEFT JOIN — see callers):
    // three fewer joins per row at any scale, same values.
    val sets = shCand.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("shs"), count(lit(1)).as("sz"))
      .cache()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sha"),
        col("sz").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shb"),
        col("sz").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        col("sa"), col("sb"))
  }

  // ---- #71 q_dedup_minhash_df --------------------------------------------
  val qDedupMinhashDf: Q = (s, dir) => {
    val (sh, _, cand) = bandedCandidates(Tables.documents(s, dir))
    // exact Jaccard, computed only for candidates. inter is built FROM
    // cand by two INNER joins against `sets`, which covers every
    // candidate doc (a banded doc always has postings), so it has
    // exactly one row per cand pair — the old cand LEFT JOIN inter was
    // a 1:1 identity and the old sizes joins duplicated sa/sb that now
    // ride the same rows (r18 optimization round; values unchanged —
    // and even a hypothetical inter-less pair would score dist 1.0 and
    // be dropped by the ≤ 0.5 filter exactly as the left-join+coalesce
    // form dropped it).
    val inter = exactIntersections(cand, sh)
    inter
      .select(col("doc_a"), col("doc_b"),
        round(lit(1.0) - coalesce(col("inter"), lit(0L)).cast("double") /
          (col("sa") + col("sb") - coalesce(col("inter"), lit(0L))).cast("double"), 6)
          .as("jaccard_dist"))
      .filter(col("jaccard_dist") <= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  // ---- #138 q_dedup_contain_minhash (added r13) --------------------------
  // Banded-candidate CONTAINMENT — the scale path for #109, mirroring
  // the #63→#111 pattern (VERDICT r12 Next-round #1 shape (b)). The
  // r13 sf1 probe showed why an exact-threshold inverted-index join
  // cannot be linear on a df-saturated corpus: at 10× data the
  // fixture's trigram vocabulary grows only 1.09× (29.8k vs 27.2k),
  // max df 143 and 29 769 of 29 791 shingles "hot" — EVERY candidate
  // route through shingle identity is Σ df²-shaped (measured: the
  // exact row enumerates 40M prefix-posting pairs, 158 s; BASELINE.md
  // r13 section). MinHash band collisions are df-INDEPENDENT —
  // signature agreement depends on pair similarity only, never on how
  // many documents share a shingle — so candidates stay ∝ docs +
  // true-positives at any corpus size (#71 measured 4.9× at 10×).
  // Declared semantics: containment ≥ 0.8 among BANDED CANDIDATES —
  // full and near-full duplicate pairs (high Jaccard ⇒ band recall
  // ≈ 1 at 6×2 bands) score exactly; a low-Jaccard subset pair (small
  // quote inside a large doc) is structurally invisible to Jaccard-
  // tuned bands and remains the exact row's (#109's) territory on
  // corpora whose df distribution lets its prefix filter bite. Scores
  // on emitted pairs are EXACT (full relational recount, least()
  // denominator) and the whole row — signatures, bands, recount — is
  // integer/md5 arithmetic, hence fully DuckDB-oracled at every sf.
  val qDedupContainMinhash: Q = (s, dir) =>
    containMinhashPairs(Tables.documents(s, dir))

  /** #138 over an arbitrary (doc_id, text) frame — suite-planted
    * recall cases drive this directly. */
  private[graft] def containMinhashPairs(docs: DataFrame): DataFrame = {
    val (sh, _, cand) = bandedCandidates(docs)
    // same join elision as #71 above: inter is 1:1 with cand and
    // carries sa/sb (r18 optimization round; values unchanged)
    val inter = exactIntersections(cand, sh)
    inter
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          least(col("sa"), col("sb")).cast("double"), 6).as("containment"))
      .filter(col("containment") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared CTE prefix (shingles → signatures → bands → candidates →
    * sizes → intersections) — the SQL twin of [[bandedCandidates]],
    * spliced into both rows' oracles.
    *
    * AS MATERIALIZED on the multi-referenced CTEs (r14): DuckDB
    * inlines plain CTEs, so `sigs` (referenced 6× by the band
    * selects) and `sh` (referenced 4×: shh, sizes, inter×2) each
    * re-evaluate the whole 5M-doc shingle+md5 pipeline per reference
    * at the 100× dataset — the sf10 spot sweep measured it spilling
    * >75 GB of DuckDB temp before dying (same failure class as the
    * pagerank oracle, fixed the same way). Hint is DuckDB-dialect
    * (the only engine that runs oracle SQL). */
  private def bandedCandidatesCte: String = {
    // (h >> 32) restores the historical 28-bit hash (hex digits 1-7
    // of the 60-bit key) — signature values are bit-identical to the
    // pre-r15 oracle
    val sigExprs = A.indices.map(i =>
      s"MIN((${A(i)} * (h >> 32) + ${B(i)}) % $P) AS sig$i").mkString(",\n         ")
    val bandSelects = (0 until NUM_BANDS).map(bi =>
      s"SELECT doc_id, $bi AS band, sig${2 * bi} AS v1, sig${2 * bi + 1} AS v2 FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |           WHERE LEN(string_split(text, ' ')) >= 3),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, UNNEST(list_transform(generate_series(1, LEN(ws) - 2),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM d)),
       |shh AS MATERIALIZED (SELECT DISTINCT doc_id,
       |  CAST(list_sum(list_transform(generate_series(1, 15),
       |    i -> (CAST(strpos('0123456789abcdef', substring(md5(sh), i, 1)) AS BIGINT) - 1)
       |         << (4 * (15 - i)))) AS BIGINT) AS h
       |  FROM sh),
       |sigs AS MATERIALIZED (SELECT doc_id,
       |         $sigExprs
       |      FROM shh GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.v1 = y.v1 AND x.v2 = y.v2
       |   AND x.doc_id < y.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN shh a ON a.doc_id = c.doc_a
       |  JOIN shh b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)""".stripMargin
  }

  val qDedupMinhashDfSql: String =
    s"""$bandedCandidatesCte
       |SELECT doc_a, doc_b,
       |       ROUND(1.0 - CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |             / CAST(sa.sz + sb.sz - COALESCE(i.inter, 0) AS DOUBLE), 6) AS jaccard_dist
       |FROM cand c
       |LEFT JOIN inter i USING (doc_a, doc_b)
       |JOIN sizes sa ON sa.doc_id = c.doc_a
       |JOIN sizes sb ON sb.doc_id = c.doc_b
       |WHERE ROUND(1.0 - CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |      / CAST(sa.sz + sb.sz - COALESCE(i.inter, 0) AS DOUBLE), 6) <= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  val qDedupContainMinhashSql: String =
    s"""$bandedCandidatesCte
       |SELECT doc_a, doc_b,
       |       ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |             / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
       |FROM cand c
       |LEFT JOIN inter i USING (doc_a, doc_b)
       |JOIN sizes sa ON sa.doc_id = c.doc_a
       |JOIN sizes sb ON sb.doc_id = c.doc_b
       |WHERE ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |      / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_dedup_minhash_df" -> qDedupMinhashDf,
    "q_dedup_contain_minhash" -> qDedupContainMinhash)
  val oracleSql: Map[String, String] = Map(
    "q_dedup_minhash_df" -> qDedupMinhashDfSql,
    "q_dedup_contain_minhash" -> qDedupContainMinhashSql)
}
