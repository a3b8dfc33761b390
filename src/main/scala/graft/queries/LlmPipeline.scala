package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, MinHashLSH}
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import graft.Tables

/** LLM-training-data-pipeline operators (SURVEY.md §2B #52–#58):
  * exact + fuzzy dedup, similarity search, text analysis, multimodal
  * (text+vector) joins.
  *
  * Scale notes:
  * - Exact dedup = hash + groupBy: two-phase agg, shuffles only
  *   (hash, partial count) pairs.
  * - MinHash / RP-LSH (#53, #55) are the 100 TB route: candidate
  *   generation is a bucket-join (linear-ish), exact distance only
  *   within buckets. Brute-force cosine (#54) is the correctness
  *   baseline and stays for small query sets (50 probes here).
  * - Cosine via `zip_with`+`aggregate` HOFs: sequential left fold over
  *   64 doubles — bit-identical to DuckDB's list_sum/list_transform
  *   fold, so the oracle matches without tolerance.
  */
object LlmPipeline {
  type Q = (SparkSession, String) => DataFrame

  /** Dot product via the codegen'd native expression (bit-identical
    * to the `zip_with`+`aggregate` HOF fold — see FloatVecDot).
    * Callers must FloatVecDot.register(s) first.
    */
  private def dotExpr(a: String, b: String): Column = expr(s"fvec_dot($a, $b)")

  /** L2 norm via the same expression: sqrt(dot(v, v)). */
  private def normExpr(a: String): Column = sqrt(expr(s"fvec_dot($a, $a)"))

  // ---- #52 q_dedup_exact_docs --------------------------------------------
  val qDedupExactDocs: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("exemplar_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("text_hash")

  val qDedupExactDocsSql: String =
    """SELECT MD5(text) AS text_hash, COUNT(*) AS n_docs,
      |       MIN(doc_id) AS exemplar_doc
      |FROM documents
      |GROUP BY MD5(text)
      |HAVING COUNT(*) > 1
      |ORDER BY text_hash""".stripMargin

  // ---- #53 q_dedup_fuzzy_minhash (no oracle — hash seeds engine-specific)
  // 3-shingles → binary HashingTF → MinHashLSH bucket-join; the join
  // computes EXACT Jaccard distance on candidate pairs, so the output
  // is (candidate generation ≈, distances exact). Seeded for
  // determinism; ScalaTest asserts planted near-dupes are found.
  val qDedupFuzzyMinhash: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3) // sequence(0, size-3) must not descend
      .withColumn("shingles", expr(
        """array_distinct(transform(
          |  sequence(0, size(words) - 3),
          |  i -> concat_ws(' ', words[i], words[i+1], words[i+2])))""".stripMargin))
      .filter(size(col("shingles")) > 0)
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // cache: the featurized relation is both sides of the self-join
    // (and the LSH fit input) — without it Spark recomputes the
    // shingle+hash pipeline three times
    val feat = tf.transform(docs).cache()
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(6).setSeed(42L)
    val model = mh.fit(feat)
    model.approxSimilarityJoin(feat, feat, 0.5, "jaccard_dist")
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(col("jaccard_dist"), 6).as("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  // ---- #54 q_sim_cosine_topk ---------------------------------------------
  // Brute-force exact top-k for the first 50 probe vectors. The probe
  // side is broadcast; the corpus streams — at 100 TB this is the
  // "small query batch vs huge corpus" shape, and #55 is the indexed
  // alternative.
  val qSimCosineTopk: Q = (s, dir) => {
    graft.functions.FloatVecDot.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val n = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val pairs = n.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (round(dotExpr("qe", "ne") / (normExpr("qe") * normExpr("ne")), 6) + lit(0.0))
          .as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"))
      .orderBy("qid", "rn")
  }

  val qSimCosineTopkSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 50),
      |pairs AS (
      |  SELECT qid, e.vec_id AS nid,
      |         ROUND(
      |           list_sum(list_transform(generate_series(1, LEN(qe)),
      |             i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |           / (SQRT(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |              * SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |           6) + 0.0 AS cos_sim
      |  FROM q CROSS JOIN embeddings e
      |  WHERE e.vec_id <> qid),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY cos_sim DESC, nid) AS rn FROM pairs)
      |SELECT qid, rn, nid, cos_sim FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  // ---- #55 q_sim_lsh_ann (no oracle — LSH buckets engine-specific) -------
  // Random-projection LSH over the same embeddings; ScalaTest asserts
  // recall@5 ≥ 0.8 vs the exact #54. Unit vectors: euclid² = 2 − 2·cos,
  // so a euclidean threshold of 1.0 ≈ cos ≥ 0.5.
  //
  // SCALE ADJUDICATION (r18, SCALE_PROBE_r18_rplsh.json): this row is
  // fixture-scale only, for two MEASURED reasons. (1) Structural:
  // Spark ML's BRP-LSH amplifies OR-only across single-projection
  // tables (no AND stage), so the candidate set is a scale-free
  // FRACTION of the corpus — measured 98.4% of 200k at these params
  // (the 64-dim projection of a unit vector has std ≈ 1/√dim ≈ 0.125,
  // so bucketLength 0.5 yields ~2 occupied buckets per table) and
  // still 77% at 5× finer buckets; per-query cost is Θ(n) at every
  // recall-retaining setting. (2) Implementational:
  // approxSimilarityJoin carries both full rows (features + hash
  // vectors, ~1.2 KB/pair) through the exploded candidate exchange —
  // at 50 queries × 2M vectors that is ~0.7 TB of shuffle, measured
  // ENOSPC on a quiet 59-GB-free box. ANN serving at scale routes to
  // IVF/IVF-PQ (#69/#87 — 5-8 ms/q at 2M, recall 0.988) or graph-ANN
  // (#140); banded set-similarity joins route to MinHashDf (#71).
  val qSimLshAnn: Q = (s, dir) => {
    val toVec = udf((a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), toVec(col("embedding")).as("features"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("features").as("qf"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(0.5).setNumHashTables(6).setSeed(42L)
    val model = lsh.fit(e)
    model.approxSimilarityJoin(
        q.withColumnRenamed("qid", "vec_id").withColumnRenamed("qf", "features"),
        e, 1.2, "euclid_dist")
      .select(col("datasetA.vec_id").as("qid"),
        col("datasetB.vec_id").as("nid"),
        round(col("euclid_dist"), 6).as("euclid_dist"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("euclid_dist"), col("nid"))))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("euclid_dist"))
      .orderBy("qid", "rn")
  }

  // ---- #55b q_sim_ivf_ann (no oracle — kmeans partitions seed-specific) ---
  // IVF-style ANN: KMeans coarse quantizer (k cells), queries probe
  // the nProbe nearest cells, exact cosine only within probed cells.
  // This is the classic inverted-file layout: at 100 TB the corpus is
  // partitioned by cell id on disk, a query touches nProbe partitions
  // instead of all of them, and the exact re-rank is a small
  // broadcast join. Seeded → deterministic.
  val qSimIvfAnn: Q = (s, dir) => {
    graft.functions.FloatVecDot.register(s)
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), toVec(col("embedding")).as("features"))
    // a coarse quantizer needs rough Voronoi cells, not convergence —
    // each extra iteration is a full distributed pass (FAISS trains IVF
    // quantizers with ~10 iterations for the same reason); recall bar
    // re-verified in OperatorSuite at the capped setting
    val kmeans = new KMeans().setK(16).setSeed(42L).setMaxIter(8)
      .setFeaturesCol("features").setPredictionCol("cell")
    // the quantizer trains on a deterministic hash-gated SAMPLE — the
    // 100 TB shape: a coarse quantizer needs ~thousands of vectors per
    // cell, so training cost must stay bounded while the corpus grows
    // (assignment below still covers every vector)
    val model = kmeans.fit(e.filter(pmod(hash(col("vec_id")), lit(4)) === 0))
    val centers = model.clusterCenters.map(_.toArray)
    val nProbe = 4
    val probeCells = udf((a: Seq[Float]) => {
      val v = a.map(_.toDouble).toArray
      centers.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
    val corpus = model.transform(e)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("cell"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeCells(col("embedding"))).as("cell"))
    q.join(corpus, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(expr("fvec_dot(qe, ne)"), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"))
      .orderBy("qid", "rn")
  }

  // ---- #87 q_sim_ivfpq_ann (no oracle — kmeans codebooks seed-specific) ---
  // The fused IVF-PQ lifecycle as a driver-visible query: build the
  // persisted index (graft.api.IvfIndex in its Pq cell encoding — PQ
  // codes stored INSIDE each IVF cell partition) in a scratch dir,
  // then probe it — the probe
  // reads only nProbe cells' byte-packed code columns plus the
  // shortlist's embeddings. Seeded → deterministic. benchExcluded:
  // the timing would be dominated by the index BUILD (a maintenance
  // job, not a query); the suite pins recall, plan pruning and the
  // add/splitCell lifecycle.
  val qSimIvfpqAnn: Q = (s, dir) => {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_q")
    val result = try {
      graft.api.IvfIndex.build(s, Tables.embeddings(s, dir), idx.toString,
        kCells = 16, encoding = graft.api.IvfIndex.Pq(m = 8, kSub = 16), seed = 42L)
      val probes = Tables.embeddings(s, dir).filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.api.IvfIndex.query(s, probes, idx.toString, nProbe = 4, topK = 5)
        .collect() // topK x |probes| rows — tiny; lets the scratch index go
    } finally {
      // the scratch index is corpus-sized — repeated verify runs must
      // not accumulate copies under /tmp
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(idx).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    s.createDataFrame(java.util.Arrays.asList(result: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rn", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("nid", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cos_sim", org.apache.spark.sql.types.DoubleType))))
  }

  // ---- #56 q_text_tfidf --------------------------------------------------
  // Plain-SQL tf-idf (tf = term count in lang; idf = ln(n_langs /
  // langs containing term)) — fully oracle-able; the MLlib
  // HashingTF/IDF variant lives in the test suite.
  val qTextTfidf: Q = (s, dir) => {
    val words = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
    // cached: tf is |langs|·|vocab| rows (tiny vs the corpus) and
    // feeds both the scores and the df derivation — caching makes the
    // corpus genuinely single-pass (exchange reuse alone doesn't fire
    // across the differing consumer subtrees under AQE).
    val tf = words.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("tf")).cache()
    val df = tf.select(col("term"), col("lang"))
      .groupBy(col("term"))
      .agg(countDistinct(col("lang")).as("df"))
    val nLangs = Tables.documents(s, dir)
      .agg(countDistinct(col("lang")).as("n_langs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nLangs))
      .select(col("lang"), col("term"),
        round(col("tf").cast("double") *
          log(col("n_langs").cast("double") / col("df").cast("double")), 6)
          .as("tfidf"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("lang"), col("rn"), col("term"), col("tfidf"))
      .orderBy("lang", "rn")
  }

  val qTextTfidfSql: String =
    """WITH words AS (
      |  SELECT lang, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT lang, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT lang) AS df FROM words GROUP BY 1),
      |nl AS (SELECT COUNT(DISTINCT lang) AS n_langs FROM documents),
      |scored AS (
      |  SELECT tf.lang, tf.term,
      |         ROUND(CAST(tf.tf AS DOUBLE)
      |               * LN(CAST(nl.n_langs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN nl),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY tfidf DESC, term) AS rn FROM scored)
      |SELECT lang, rn, term, tfidf FROM ranked WHERE rn <= 10
      |ORDER BY lang, rn""".stripMargin

  // ---- #57 q_text_lang_stats ---------------------------------------------
  val qTextLangStats: Q = (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        round(avg(size(split(col("text"), " ")).cast("double")), 6).as("avg_words"))
      .orderBy("lang")

  val qTextLangStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |       ROUND(AVG(n_chars), 6) AS avg_chars,
      |       ROUND(AVG(CAST(LEN(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_words
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---- #58 q_multimodal_join ---------------------------------------------
  // Text + vector side by side, one flat row per doc (the "multimodal
  // column" pattern: typed columns joined on the doc key).
  val qMultimodalJoin: Q = (s, dir) => {
    graft.functions.FloatVecDot.register(s)
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir),
        col("doc_id") === col("vec_id"), "inner")
      .select(col("doc_id"), col("lang"), col("label"),
        length(col("text")).as("text_len"),
        round(normExpr("embedding"), 6).as("emb_norm"))
      .orderBy("doc_id")
  }

  val qMultimodalJoinSql: String =
    """SELECT doc_id, lang, label,
      |       CAST(LENGTH(text) AS INT) AS text_len,
      |       ROUND(SQRT(list_sum(list_transform(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin

  // ---- #140 q_sim_graph_ann (added r13; no oracle — recall is
  // probabilistic, the declared #55/#69/#87 class) -------------------------
  // Graph-family ANN (api/NeighborGraphAnn — HNSW's regime as
  // relational algebra): build the mirrored NN-descent k-NN graph
  // over the corpus, then batched beam search for the same query set
  // and output shape as the IVF rows (vec_id < 50, top-5:
  // qid/rn/nid/cos_sim). Recall + structure floors in GraphAnnSuite.
  val qSimGraphAnn: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val graph = graft.api.NeighborGraphAnn.build(s, e, "vec_id", "embedding")
    graft.api.NeighborGraphAnn.topK(s, graph, e, "vec_id", "embedding",
      e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      k = 5)
  }

  // ------------------------------------------------------------------------
  val queries: Map[String, Q] = Map(
    "q_sim_graph_ann" -> qSimGraphAnn,
    "q_dedup_exact_docs" -> qDedupExactDocs,
    "q_dedup_fuzzy_minhash" -> qDedupFuzzyMinhash,
    "q_sim_cosine_topk" -> qSimCosineTopk,
    "q_sim_lsh_ann" -> qSimLshAnn,
    "q_sim_ivf_ann" -> qSimIvfAnn,
    "q_sim_ivfpq_ann" -> qSimIvfpqAnn,
    "q_text_tfidf" -> qTextTfidf,
    "q_text_lang_stats" -> qTextLangStats,
    "q_multimodal_join" -> qMultimodalJoin,
  )

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact_docs" -> qDedupExactDocsSql,
    "q_sim_cosine_topk" -> qSimCosineTopkSql,
    "q_text_tfidf" -> qTextTfidfSql,
    "q_text_lang_stats" -> qTextLangStatsSql,
    "q_multimodal_join" -> qMultimodalJoinSql,
  )
}
