package graft

import org.apache.spark.sql.functions._
import graft.functions.FloatVecDot
import graft.queries.{Multimodal, PipelineExtras}

/** New-component guards: the native fvec_dot expression, SimHash
  * locality, and the multimodal decode plumbing.
  */
class ExtrasSuite extends GraftSuite {

  test("fvec_dot: bit-identical to the zip_with+aggregate HOF fold; codegen'd") {
    FloatVecDot.register(spark)
    val e = Tables.embeddings(spark, sf0001).limit(100)
      .select(col("vec_id"), col("embedding").as("a"))
    val e2 = Tables.embeddings(spark, sf0001).limit(50)
      .select(col("embedding").as("b"))
    val pairs = e.crossJoin(e2)
      .select(
        expr("fvec_dot(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)").as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0,
      "native expression must reproduce the HOF fold bit-for-bit")
    // whole-stage codegen must cover the projection containing
    // fvec_dot: the `*(n)` prefix marks codegen'd operators
    val p = e.select(expr("fvec_dot(a, a)")).queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[fvec_dot""".r.findFirstIn(p).isDefined,
      s"fvec_dot projection must be inside WholeStageCodegen:\n$p")
  }

  test("fvec_dot: null and type handling") {
    FloatVecDot.register(spark)
    val sess = spark
    import sess.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Option(Seq(3.0f, 4.0f))), (Seq(1.0f), None))
      .toDF("a", "b")
    val got = df.select(expr("fvec_dot(a, b)")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(11.0), None))
    val err = intercept[Exception] {
      Seq(1).toDF("x").select(expr("fvec_dot(x, x)")).collect()
    }
    assert(err.getMessage.contains("fvec_dot"), err.getMessage)
  }

  test("q_dedup_simhash: near-dup docs (low n-gram Jaccard distance) have closer simhashes than random pairs") {
    val sig = PipelineExtras.qDedupSimhash(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearDups = queries.LlmPipeline.qDedupFuzzyMinhash(spark, sf0001).collect()
      .filter(_.getAs[Double]("jaccard_dist") <= 0.3)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(nearDups.nonEmpty)
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearMean = nearDups.map { case (a, b) => hamming(sig(a), sig(b)) }.sum.toDouble / nearDups.length
    val ids = sig.keys.toSeq.sorted.take(60)
    val randPairs = for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    val randMean = randPairs.map { case (a, b) => hamming(sig(a), sig(b)) }.sum.toDouble / randPairs.length
    assert(nearMean < randMean - 2,
      s"simhash must be locality-sensitive: near=$nearMean rand=$randMean")
  }

  test("q_approx_hll_sketch: sketch-merge estimate matches exact global distinct within 5%") {
    val rows = graft.queries.Scalars.qApproxHllSketch(spark, sf0001).collect()
    assert(rows.length == 5)
    val globals = rows.map(_.getAs[Long]("global_users")).distinct
    assert(globals.length == 1, "same merged-global estimate on every row")
    val exactGlobal = Tables.events(spark, sf0001)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(math.abs(globals.head.toDouble - exactGlobal) / exactGlobal < 0.05,
      s"union-of-sketches estimate ${globals.head} vs exact $exactGlobal")
  }

  test("saltedJoin: result-equivalent to a plain join, spreads the hot key across salts") {
    import graft.api.SkewUtils
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"))
    val users = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_name"))
    val plain = ev.join(users, col("user_id") === col("c_custkey"), "inner")
      .select(col("event_id"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = SkewUtils.saltedJoin(ev, users,
        col("user_id"), col("c_custkey"), col("event_id"), nSalts = 8)
      .select(col("event_id"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted == plain, "salted join must be result-equivalent")
    // the hot side really is scattered: events of one user land in >1 salt
    val salts = ev.withColumn("_salt", pmod(hash(col("event_id")), lit(8)))
      .filter(col("user_id") === 0).select("_salt").distinct().count()
    assert(salts > 1, "hot key must span multiple salt buckets")
  }

  test("skew regimes: AQE splits the hot SMJ partition; saltedJoin is for the keys AQE can't fix") {
    // Pins the SkewUtils decision rule with plan evidence for BOTH
    // regimes instead of a comment (SURVEY §4.2 "Skew handling" row):
    //  - spillable SMJ + AQE on → OptimizeSkewedJoin splits the hot
    //    partition at runtime; no salting code needed;
    //  - explicit saltedJoin is for when the hot key must be spread
    //    BEFORE the shuffle (e.g. the aggregation-input regime, or a
    //    join AQE won't rewrite) — its exchange hashes on (key, _salt)
    //    so the hot key occupies nSalts reducer partitions by plan.
    val sess = spark; import sess.implicits._
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val restore = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // the non-broadcastable premise
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds scaled to fixture bytes (defaults target 256 MB partitions)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    try {
      // 50k rows, 80% on key 0: the hot reducer partition is ~16× the median
      val big = spark.range(0, 50000).select(
        when($"id" < 40000, 0L).otherwise($"id" % 1000).as("k"),
        $"id".as("payload"))
      val small = spark.range(0, 1000)
        .select($"id".as("sk"), concat(lit("u"), $"id").as("name"))

      // regime 1: AQE rewrites the SMJ — hot partition split at runtime
      val j = big.join(small, $"k" === $"sk")
      val n = j.collect().length
      assert(n == 50000, s"inner join must match every row, got $n")
      val aqePlan = j.queryExecution.executedPlan.toString
      assert(aqePlan.contains("skew=true"),
        s"AQE must mark the skewed join (OptimizeSkewedJoin):\n$aqePlan")

      // regime 2: explicit salting — the exchange itself spreads the
      // hot key: hashpartitioning on (k, _salt), so key 0 lands in
      // nSalts reducer partitions BY PLAN, no runtime rewrite needed
      val salted = graft.api.SkewUtils.saltedJoin(big, small,
        $"k", $"sk", $"payload", nSalts = 8)
      assert(salted.count() == 50000, "salted join must be result-equivalent")
      val saltPlan = salted.queryExecution.executedPlan.toString
      assert(saltPlan.contains("_salt"),
        s"salted exchange must hash on (key, _salt):\n$saltPlan")
      val hotSpread = big.withColumn("_salt", pmod(hash($"payload"), lit(8)))
        .filter($"k" === 0).select("_salt").distinct().count()
      assert(hotSpread == 8, s"hot key must occupy all 8 salt buckets, got $hotSpread")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_dedup_minhash_df: agrees with the MLlib variant on all strong near-dups") {
    def pairs(df: org.apache.spark.sql.DataFrame, distCol: String) = df.collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double](distCol)))
      .toMap
    val dfm = pairs(graft.queries.MinHashDf.qDedupMinhashDf(spark, sf0001), "jaccard_dist")
    val mlm = pairs(queries.LlmPipeline.qDedupFuzzyMinhash(spark, sf0001), "jaccard_dist")
    assert(dfm.nonEmpty && mlm.nonEmpty)
    // different hash families → candidate fringes differ near the 0.5
    // threshold, but every STRONG near-dup must be found by both
    val strongDf = dfm.filter(_._2 <= 0.35).keySet
    val strongMl = mlm.filter(_._2 <= 0.35).keySet
    assert(strongDf == strongMl,
      s"strong pairs disagree: onlyDf=${(strongDf -- strongMl).take(5)} onlyMl=${(strongMl -- strongDf).take(5)}")
    // and where both report a pair, the exact distances agree
    dfm.keySet.intersect(mlm.keySet).foreach { k =>
      assert(math.abs(dfm(k) - mlm(k)) <= 0.02, s"$k: ${dfm(k)} vs ${mlm(k)}")
    }
  }

  test("Engine.init: full catalog + custom functions reachable through plain spark.sql") {
    graft.Engine.init(spark, sf0001)
    val top = spark.sql(
      """SELECT c_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_name ORDER BY t DESC, c_name LIMIT 3""".stripMargin).collect()
    assert(top.length == 3 && top.head.getDecimal(1).doubleValue() > 0)
    // events view already has the ns→µs recipe applied
    val ev = spark.sql("SELECT COUNT(*) FROM events WHERE ts >= TIMESTAMP '2024-01-01'")
      .collect()(0).getLong(0)
    assert(ev == 1000L)
    // custom expression callable from SQL
    val d = spark.sql(
      "SELECT ROUND(fvec_dot(embedding, embedding), 3) FROM embeddings WHERE vec_id = 0")
      .collect()(0).getDouble(0)
    assert(d == 1.0, s"unit vector self-dot, got $d")
    // frequent-items sketch callable from SQL (exact here: vocab < 64)
    val fi = spark.sql(
      """SELECT explode(frequent_items(word)) AS (w, c)
        |FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
        |ORDER BY c DESC, w LIMIT 1""".stripMargin).collect()(0)
    val want = spark.sql(
      """SELECT word, COUNT(*) c
        |FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY c DESC, word LIMIT 1""".stripMargin).collect()(0)
    assert(fi.getString(0) == want.getString(0) && fi.getLong(1) == want.getLong(1),
      s"SQL frequent_items top-1 must equal exact: $fi vs $want")
  }

  test("q_multimodal_decode: plumbing — schema, determinism, partition invariance") {
    val out = Multimodal.qMultimodalDecode(spark, sf0001)
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "container", "payload_hint", "n_bytes", "byte_sum", "mean_byte"))
    val rows = out.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getAs[Int]("n_bytes") == 16), "md5 payload is 16 bytes")
    // deterministic under re-execution
    assert(Multimodal.qMultimodalDecode(spark, sf0001).collect().toSeq == rows.toSeq)
  }

  test("FrequentItems (Misra-Gries): exact when capacity covers the vocabulary; bounded undercount when not") {
    val docs = Tables.documents(spark, sf0001)
    // (a) justify the q_text_topk_words oracle at EVERY oracled SF:
    // per-lang distinct words must fit the query's capacity at each
    // scale the driver hash-compares, making MG provably exact there
    // (an overflow at a bigger SF would otherwise surface only as an
    // unexplained driver hash mismatch)
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(dir).isDirectory) {
      val maxDistinct = Tables.documents(spark, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy("lang").agg(countDistinct("word").as("d"))
        .agg(max("d")).collect()(0).getLong(0)
      assert(maxDistinct <= PipelineExtras.TOPK_WORDS_CAPACITY,
        s"capacity ${PipelineExtras.TOPK_WORDS_CAPACITY} must cover vocab " +
          s"$maxDistinct at $dir for the exact oracle")
    }
    // (b) under-capacity sketch: never overcounts; undercount bounded
    // by N/(capacity+1); every truly-frequent item survives
    val cap = 8
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val truth = words.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val mg = udaf(new graft.functions.FrequentItems(cap))
    val est = words.agg(mg(col("word"))).collect()(0)
      .getMap[String, Long](0)
    assert(est.size <= cap, "state bound")
    est.foreach { case (w, c) =>
      assert(c <= truth(w), s"MG must never overcount: $w est=$c true=${truth(w)}")
      assert(truth(w) - c <= n / (cap + 1),
        s"undercount bound violated for $w: est=$c true=${truth(w)} bound=${n / (cap + 1)}")
    }
    truth.filter(_._2 > n / (cap + 1)).keys.foreach { w =>
      assert(est.contains(w), s"guaranteed-frequent item $w missing from sketch")
    }
  }

  test("q_text_repetition: known-answer repetition fractions") {
    val sess = spark; import sess.implicits._
    // "a b a b a": 2-grams = [a b, b a, a b, b a] -> n=4, max=2,
    // distinct=2 -> max_frac 0.5, uniq_frac 0.5
    // "x y z": 2-grams = [x y, y z] -> all unique -> 0.5, 1.0
    // "w w w w": [w w]x3 -> pure loop -> 1.0, 0.333333
    val docs = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "w w w w"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = PipelineExtras.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 0.5, 0.5),
      (2L, 2L, 0.5, 1.0),
      (3L, 3L, 1.0, 0.333333)), s"got ${got.toSeq}")
    assert(!got.exists(_._1 == 4L), "single-word docs have no 2-grams")
  }

  test("BloomDecon: identical to exact q_decontaminate; Bloom prefilter passes only a sliver of the corpus") {
    val docs = Tables.documents(spark, sf0001)
    val ev = docs.filter(col("doc_id") < 20)
    val tr = docs.filter(col("doc_id") >= 20)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("train_doc"), r.getAs[Long]("eval_doc"), r.getAs[Long]("n_shared"))
    val got = graft.api.BloomDecon.decontaminate(tr, ev).collect().map(key)
    val want = PipelineExtras.qDecontaminate(spark, sf0001).collect().map(key)
    assert(got.length == want.length && got.toSet == want.toSet,
      s"no false negatives, FPs die in exact verify: got ${got.length} vs ${want.length}")
    // the prefilter's whole point: only ~(hits + fpp) of corpus
    // shingles survive into the exact join
    val evalSh = PipelineExtras.shingles5(ev)
    val bloom = evalSh.stat.bloomFilter("sh", 100000L, 0.01)
    val mightHit = udf((s: String) => s != null && bloom.mightContain(s))
    val trSh = PipelineExtras.shingles5(tr)
    val (total, pass) = (trSh.count(), trSh.filter(mightHit(col("sh"))).count())
    assert(pass.toDouble / total < 0.2,
      s"Bloom prefilter must drop most corpus shingles ($pass of $total passed)")
  }

  test("ngramJaccardPairs: heavily duplicated boilerplate (all shingles hotter than the df cut) is still found") {
    val sess = spark; import sess.implicits._
    // 60 identical docs: every shingle has df=60 > NGRAM_DF_CUT=50, so
    // the rare-postings index alone would be blind to the cluster —
    // the per-doc rarest-K index must catch it
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val noise = (0 until 40).map(i =>
      (1000L + i, s"unique$i words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    val docs = ((0 until 60).map(i => (i.toLong, boiler)) ++ noise)
      .toDF("doc_id", "text")
    val got = graft.queries.PipelineExtras.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val dupPairs = got.filter { case (a, b, _) => a < 60 && b < 60 }
    assert(dupPairs.length == 60 * 59 / 2,
      s"all ${60 * 59 / 2} boilerplate pairs must be reported, got ${dupPairs.length}")
    assert(dupPairs.forall(_._3 == 1.0), "identical docs have exact Jaccard 1.0")
  }

  test("ngramJaccardPairs: NEAR-identical boilerplate (hot shingles, not byte-equal) still found under the r13 df cap") {
    val sess = spark; import sess.implicits._
    // 60 copies each with ONE word personalized: not byte-identical
    // (so the r13 exact collapse can't merge them), every shared
    // shingle has df=60 > NGRAM_DF_CUT=50 (rare index blind), and
    // df=60 <= NGRAM_POSTING_DF_CAP=200 — the rarest-K index must
    // still catch the cluster. This is the surviving job of index (b)
    // now that byte-identical clusters route through collapseExact.
    val words = "the quick brown fox jumps over the lazy dog again and again".split(" ")
    val docs = ((0 until 60).map { i =>
      (i.toLong, (words :+ s"sig$i").mkString(" "))
    } ++ (0 until 40).map(i =>
      (1000L + i, s"unique$i words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")))
      .toDF("doc_id", "text")
    val got = graft.queries.PipelineExtras.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val dupPairs = got.filter { case (a, b, _) => a < 60 && b < 60 }
    assert(dupPairs.length == 60 * 59 / 2,
      s"all ${60 * 59 / 2} near-boilerplate pairs must be reported, got ${dupPairs.length}")
    // 12 shared shingles minus the one broken by the sig word: shingle
    // sets differ only at the tail -> jaccard well above the 0.2 gate
    assert(dupPairs.forall(_._3 >= 0.5), "near-identical docs must score high")
  }

  test("q_dedup_ngram_jaccard: df-cut candidate generation loses NO pair vs brute-force all-pairs") {
    val got = PipelineExtras.qDedupNgramJaccard(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // driver-side brute force: true all-pairs exact 3-gram Jaccard
    val shingles: Map[Long, Set[String]] = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        r.getLong(0) -> ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.toMap.filter(_._2.nonEmpty)
    val ids = shingles.keys.toSeq.sorted
    val truth = (for {
      i <- ids.indices; j <- i + 1 until ids.size
      a = shingles(ids(i)); b = shingles(ids(j))
      inter = a.intersect(b).size
      jac = BigDecimal(inter.toDouble / (a.size + b.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      if jac >= 0.2
    } yield (ids(i), ids(j)) -> jac).toMap
    assert(got.keySet == truth.keySet,
      s"df-cut must not change the reported pair set on the fixture: " +
        s"missing=${(truth.keySet -- got.keySet).take(5)} extra=${(got.keySet -- truth.keySet).take(5)}")
    truth.foreach { case (pair, jac) =>
      assert(math.abs(got(pair) - jac) < 1e-9, s"$pair: ${got(pair)} vs $jac")
    }
  }

  test("ngramContainmentPairs: finds a quote fully contained in a long doc that Jaccard (correctly) misses") {
    val sess = spark; import sess.implicits._
    // plant the case the fixture lacks: doc 9001 is a 30-word fragment
    // of doc 9000's 300-word text — containment 1.0, Jaccard ≈ 0.09
    val words = (1 to 300).map(i => s"w${i * 7 % 211}x$i")
    val big = words.mkString(" ")
    val quote = words.slice(100, 130).mkString(" ")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .unionByName(Seq((9000L, big), (9001L, quote)).toDF("doc_id", "text"))
    val cont = graft.queries.PipelineExtras.ngramContainmentPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont.get((9000L, 9001L)).contains(1.0),
      s"planted quote must be reported at containment 1.0; got ${cont.get((9000L, 9001L))}")
    val jac = graft.queries.PipelineExtras.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((9000L, 9001L)),
      "the size-mismatched pair must be invisible to Jaccard — that gap is why containment exists")
    // and the refactor must not have changed the jaccard pipeline: the
    // fixture's own near-dup pairs still come out of both scorers
    // (full dups have containment 1.0 ≥ 0.8 and jaccard ≥ 0.2)
    val fixturePairs = jac.filter { case (a, b) => a < 9000 && b < 9000 }
    assert(fixturePairs.nonEmpty && fixturePairs.forall(p => cont.contains(p)),
      "fixture full-dups must appear in both scorers")
  }

  test("q_dedup_contain_minhash (#138): banded containment — near-full dups found, declared subset-miss, fixture == exact row") {
    val sess = spark; import sess.implicits._
    // On the driver fixture (full-dup pairs only) the banded row must
    // agree with the exact prefix-filter row EXACTLY — same pairs,
    // same 1.0 scores — pinning that the two containment rows state
    // one semantic where both apply.
    val banded = graft.queries.MinHashDf.qDedupContainMinhash(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = graft.queries.PipelineExtras.qDedupContainment(spark, sf0001)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(banded == exact,
      s"banded and exact containment must agree on the full-dup fixture; " +
        s"diff=${(banded.keySet diff exact.keySet).take(3)}/${(exact.keySet diff banded.keySet).take(3)}")
    // Planted: 30 near-full dup pairs (one word of ~40 changed -> high
    // Jaccard, containment ~0.93) must be recalled by the bands...
    val words = (1 to 40).map(i => s"qq${i * 13 % 97}w$i")
    val docs = ((0 until 30).map { i =>
      (8000L + i, words.mkString(" "))
    } ++ (0 until 30).map { i =>
      (8100L + i, words.updated(20, s"alt$i").mkString(" "))
    } :+ (8500L, words.slice(5, 15).mkString(" "))) // 10-word subset quote
      .toDF("doc_id", "text")
    val got = graft.queries.MinHashDf.containMinhashPairs(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    (0 until 30).foreach { i =>
      assert(got.contains((8000L + i, 8100L + i)),
        s"near-full dup pair ${8000 + i} must be a band candidate")
    }
    // ...and every emitted score is the EXACT containment (near-dup
    // pairs share 35 of 38 shingles; identical docs score 1.0)
    assert(got((8000L, 8001L)) == 1.0)
    // ...while the low-Jaccard subset quote is the DECLARED miss: its
    // containment is 1.0 but its Jaccard ~0.2 sits far below the band
    // collision threshold — that regime belongs to the exact row
    assert(!got.keys.exists { case (a, b) => b == 8500L || a == 8500L },
      "subset quote must NOT band-collide (declared #138 semantics; #109's territory)")
  }

  test("minhash maxBucket cap: off by default (exact), on it drops only saturated band buckets") {
    val sess = spark; import sess.implicits._
    // The r15 1000× probe found the regime where banding itself goes
    // quadratic: a corpus whose shingle space does not grow with it
    // saturates the signature space and band buckets go hot (578M
    // candidate pairs at sf100 on GenScale's 31-word vocabulary).
    // spark.graft.minhash.maxBucket is the production safeguard: drop
    // buckets larger than the cap, keep everything else exact.
    // Planted: a 40-doc IDENTICAL mega-cluster (one hot bucket per
    // band) next to 3 normal near-dup pairs.
    val words = (1 to 40).map(i => s"zz${i * 7 % 89}v$i")
    val docs = ((0 until 40).map(i => (9000L + i, words.mkString(" "))) ++
      (0 until 3).flatMap { i =>
        val w = (1 to 40).map(j => s"pair${i}_${j * 11 % 83}u$j")
        Seq((9500L + 2 * i, w.mkString(" ")),
          (9501L + 2 * i, w.updated(20, s"alt$i").mkString(" ")))
      }).toDF("doc_id", "text")
    def pairs() = graft.queries.MinHashDf.containMinhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs()
    assert(uncapped.count { case (a, b) => a >= 9000L && b < 9100L } == 40 * 39 / 2,
      "cap off: the mega-cluster contributes all-pairs (exact semantics)")
    spark.conf.set("spark.graft.minhash.maxBucket", "10")
    try {
      val capped = pairs()
      assert(!capped.exists { case (a, b) => a >= 9000L && b < 9100L },
        "cap on: saturated-bucket pairs dropped")
      (0 until 3).foreach { i =>
        assert(capped.contains((9500L + 2 * i, 9501L + 2 * i)),
          s"cap on: normal near-dup pair $i must survive")
      }
    } finally spark.conf.unset("spark.graft.minhash.maxBucket")
  }

  test("r16 config guards: malformed or negative maxBucket fails loudly") {
    val sess = spark; import sess.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // ADVICE r15 #3: a junk cap value must be a clear error, not an
    // unguarded NumberFormatException deep in a job
    spark.conf.set("spark.graft.minhash.maxBucket", "fifty")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.queries.MinHashDf.containMinhashPairs(docs).collect()
      }
      assert(e.getMessage.contains("maxBucket"), s"got: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.minhash.maxBucket")
    // ADVICE r16 #3: a NEGATIVE cap is not "uncapped", it is junk —
    // the error message promises "non-negative integer", so enforce it
    spark.conf.set("spark.graft.minhash.maxBucket", "-5")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.queries.MinHashDf.containMinhashPairs(docs).collect()
      }
      assert(e.getMessage.contains("non-negative"), s"got: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.minhash.maxBucket")
  }

  test("ngramContainmentPairs: an ALL-HOT doc inside a rare-rich container is still found (prefix-filter recall)") {
    // The case Jaccard's rare-shingle candidate indexes cannot see at
    // all (and the reason containment has its own PPJoin-style prefix
    // index): 60 identical boilerplate docs make every copy shingle
    // hot (df=61 > NGRAM_DF_CUT), and the container has ≥ K rare
    // shingles of its own — no shared rare shingle, no shared
    // rarest-K, yet each copy is 100% contained in the container.
    val sess = spark; import sess.implicits._
    val hotWords = (1 to 32).map(i => s"bpq${i}z")
    val hotText = hotWords.mkString(" ")
    val container = (hotWords ++ (1 to 300).map(i => s"uniq${i}q")).mkString(" ")
    val copies = (0 until 60).map(i => (9100L + i, hotText))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .unionByName((copies :+ (9200L, container)).toDF("doc_id", "text"))
    val cont = graft.queries.PipelineExtras.ngramContainmentPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    (0 until 60).foreach { i =>
      assert(cont.get((9100L + i, 9200L)).contains(1.0),
        s"copy ${9100 + i} must be reported inside the container; got ${cont.get((9100L + i, 9200L))}")
    }
    // and the copies pair among themselves at 1.0 too
    assert(cont.get((9100L, 9101L)).contains(1.0))
    // Jaccard's pipeline misses the copy→container pairs (score ≈ 0.09
    // AND invisible to its candidate indexes) — the capability gap
    val jac = graft.queries.PipelineExtras.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((9100L, 9200L)),
      "the size-mismatched all-hot pair must not appear in the Jaccard output")
  }

  test("range-join regimes: naive range-only join is a BNLJ; RangeBinJoin is an equi-join with identical rows") {
    // Pins WHY RangeBinJoin exists (SURVEY §2B row 101): a join whose
    // only condition is a range predicate has no equi key for Spark to
    // hash on, so the planner's only option is a nested-loop —
    // O(|L|·|R|), the first plan to die at scale. The binned rewrite
    // joins on a computed bin key, so the plan is a hash/sort-merge
    // equi-join; the residual range check runs on co-binned candidates
    // only. Both plans must agree row-for-row.
    val sess = spark; import sess.implicits._
    val left = spark.range(0, 2000).select(
      $"id".as("lid"), ($"id" * 37L % 100000L).as("lo"))
      .withColumn("hi", $"lo" + 500L)
    val right = spark.range(0, 3000).select(
      $"id".as("rid"), ($"id" * 61L % 100000L).as("v"))

    val naive = left.join(right, $"v" > $"lo" && $"v" <= $"hi")
    assert(naive.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
      "premise: Spark must plan a range-only condition as a nested loop " +
        "(if this ever changes, RangeBinJoin can retire)")

    val binned = graft.api.RangeBinJoin.intervalJoin(
      left, "lo", "hi", right, "v", binWidth = 500L)
    val binnedPlan = binned.queryExecution.executedPlan.toString
    assert(!binnedPlan.contains("BroadcastNestedLoopJoin") &&
        !binnedPlan.contains("CartesianProduct"),
      s"binned rewrite must not contain a nested-loop join:\n$binnedPlan")

    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (n, b) = (key(naive), key(binned))
    assert(n == b && n.nonEmpty,
      s"plans disagree: onlyNaive=${(n -- b).take(5)} onlyBinned=${(b -- n).take(5)} (naive=${n.size})")

    // boundary semantics (lo, hi]: a value exactly at lo is OUT, at hi is IN
    val edge = graft.api.RangeBinJoin.intervalJoin(
      Seq((1L, 100L, 200L)).toDF("lid", "lo", "hi"),
      "lo", "hi",
      Seq(100L, 101L, 200L, 201L).toDF("v"), "v", binWidth = 100L)
    assert(edge.select("v").collect().map(_.getLong(0)).sorted.toSeq == Seq(101L, 200L),
      "interval must be open at lo, closed at hi")
  }

  test("range-bin API and range_bin hint build one plan: the API calls the rule's rewrite") {
    val sess = spark; import sess.implicits._
    val left = spark.range(0, 2000).select(
      $"id".as("lid"), ($"id" * 37L % 100000L).as("lo"))
      .withColumn("hi", $"lo" + 500L)
    val right = spark.range(0, 3000).select(
      $"id".as("rid"), ($"id" * 61L % 100000L).as("v"))
    val api = graft.api.RangeBinJoin.intervalJoin(left, "lo", "hi", right, "v", 500L)
      .queryExecution.optimizedPlan
    val hinted = left.hint("range_bin", 500L).join(right, $"v" > $"lo" && $"v" <= $"hi")
      .queryExecution.optimizedPlan
    assert(api.sameResult(hinted), s"API and hint plans differ:\n$api\n--- hint:\n$hinted")
    assert(api.toString.contains("_graft_bin") && hinted.toString.contains("_graft_bin"),
      s"both forms must carry the rule's bin attribute:\n$api\n--- hint:\n$hinted")
  }

  test("RangeBinJoinRule: range-only joins auto-rewrite to binned equi-joins when the width conf is set") {
    // The optimizer-rule version of the regimes test above: with
    // spark.graft.rangeBin.width set, a user writing the NAIVE
    // declarative range join gets the binned plan automatically (the
    // engine contract: declare semantics, engine picks the scale
    // plan). Also pins the rule's guard rails: off without the conf,
    // hands-off on joins with an equi conjunct, both orientations,
    // and empty intervals.
    val sess = spark; import sess.implicits._
    val left = spark.range(0, 2000).select(
      $"id".as("lid"), ($"id" * 37L % 100000L).as("lo"))
      .withColumn("hi", $"lo" + 500L)
    val right = spark.range(0, 3000).select(
      $"id".as("rid"), ($"id" * 61L % 100000L).as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString

    spark.conf.unset(graft.plans.RangeBinJoinRule.WIDTH_CONF)
    val naive = left.join(right, $"v" > $"lo" && $"v" <= $"hi")
    assert(planOf(naive).contains("BroadcastNestedLoopJoin"),
      "without the conf the rule must not fire")
    val truth = rows(naive)

    try {
      spark.conf.set(graft.plans.RangeBinJoinRule.WIDTH_CONF, "500")
      val auto = left.join(right, $"v" > $"lo" && $"v" <= $"hi")
      val p = planOf(auto)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"rule must remove the nested loop:\n$p")
      assert(rows(auto) == truth, "rewrite must be result-identical")

      // mirrored orientation: value side on the left of the join
      val mirrored = right.join(left, $"v" > $"lo" && $"v" <= $"hi")
      assert(!planOf(mirrored).contains("BroadcastNestedLoopJoin"),
        "bounds-on-right orientation must also rewrite")
      assert(rows(mirrored) == truth)

      // an equi conjunct means the planner already has a hash key —
      // the rule must stay hands-off
      val equi = left.join(right, $"lid" === $"rid" && $"v" <= $"hi")
      assert(!planOf(equi).contains("_graft_bin"),
        "equi-keyed joins must not be rewritten")

      // empty intervals (lo > hi) must yield zero rows, not a
      // Sequence error from the bin enumeration
      val el = Seq((1L, 300L, 200L)).toDF("lid", "lo", "hi")
      assert(el.join(right, $"v" > $"lo" && $"v" <= $"hi").count() == 0)
    } finally spark.conf.unset(graft.plans.RangeBinJoinRule.WIDTH_CONF)
  }

  test("range_bin hint: per-join width beats the conf; conf-only still works; no-op off the range shape") {
    // the r9 per-join seam: df.hint("range_bin", w) resolved by the
    // GraftExtensions analyzer rule (UnresolvedHint never survives to
    // the optimizer — this is WHY the extension exists)
    val sess = spark; import sess.implicits._
    val left = spark.range(0, 2000).select(
      $"id".as("lid"), ($"id" * 37L % 100000L).as("lo"))
      .withColumn("hi", $"lo" + 500L)
    val right = spark.range(0, 3000).select(
      $"id".as("rid"), ($"id" * 61L % 100000L).as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString

    spark.conf.unset(graft.plans.RangeBinJoinRule.WIDTH_CONF)
    val truth = rows(left.join(right, $"v" > $"lo" && $"v" <= $"hi"))

    // hint alone (no conf): rewrite fires at the hinted width
    val hinted = left.hint("range_bin", 500L)
      .join(right, $"v" > $"lo" && $"v" <= $"hi")
    val hp = planOf(hinted)
    assert(!hp.contains("BroadcastNestedLoopJoin") && hp.contains(" div 500"),
      s"hint alone must drive the rewrite at width 500:\n$hp")
    assert(rows(hinted) == truth)

    try {
      // hint BEATS conf: conf says 250, hint says 500 — plan bins at 500
      spark.conf.set(graft.plans.RangeBinJoinRule.WIDTH_CONF, "250")
      val both = left.hint("range_bin", 500L)
        .join(right, $"v" > $"lo" && $"v" <= $"hi")
      val bp = planOf(both)
      assert(bp.contains(" div 500") && !bp.contains(" div 250"),
        s"per-join hint must override the session conf:\n$bp")
      assert(rows(both) == truth)

      // conf-only (no hint) keeps working at the conf width
      val confOnly = left.join(right, $"v" > $"lo" && $"v" <= $"hi")
      val cp = planOf(confOnly)
      assert(cp.contains(" div 250") && !cp.contains("BroadcastNestedLoopJoin"),
        s"conf fallback must still fire:\n$cp")
      assert(rows(confOnly) == truth)
    } finally spark.conf.unset(graft.plans.RangeBinJoinRule.WIDTH_CONF)

    // hint on a non-range (equi-keyed) join: clean no-op — marker is
    // stripped, no bin machinery, plan executes
    val equi = left.hint("range_bin", 500L).join(right, $"lid" === $"rid")
    val ep = planOf(equi)
    assert(!ep.contains("_graft_bin") && !ep.contains("RangeBinWidthHint"),
      s"hint off the range shape must vanish without trace:\n$ep")
    assert(equi.count() > 0)
  }

  test("range-join maxBins guard: a too-wide interval fails loudly at collect() in both API joins and the hint rewrite") {
    val sess = spark; import sess.implicits._
    // [0, 10] at width 1 spans 10 bins, over the cap of 4
    val wide = Seq((1L, 0L, 10L)).toDF("aid", "lo", "hi")
    val points = Seq((10L, 5L)).toDF("pid", "v")
    val spans = Seq((20L, 3L, 4L)).toDF("bid", "b_lo", "b_hi")
    def failsLoudly(df: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("spans more than 4 bins")),
        s"expected the maxBins error, got:\n${msgs.mkString("\n")}")
    }
    failsLoudly(graft.api.RangeBinJoin.intervalJoin(wide, "lo", "hi", points, "v",
      binWidth = 1L, maxBins = 4L))
    failsLoudly(graft.api.RangeBinJoin.overlapJoin(wide, "lo", "hi", spans, "b_lo", "b_hi",
      binWidth = 1L, maxBins = 4L))
    withConfs(graft.plans.RangeBinJoinRule.MAX_BINS_CONF -> "4") {
      failsLoudly(wide.hint("range_bin", 1L).join(points, $"v" > $"lo" && $"v" <= $"hi"))
    }
    // a malformed or non-positive cap is rejected by name, not read as
    // the default or as a cap that fails every multi-bin interval
    Seq("fifty", "0").foreach { bad =>
      withConfs(graft.plans.RangeBinJoinRule.MAX_BINS_CONF -> bad) {
        val e = intercept[IllegalArgumentException](
          wide.hint("range_bin", 1L).join(points, $"v" > $"lo" && $"v" <= $"hi").collect())
        assert(e.getMessage.contains(graft.plans.RangeBinJoinRule.MAX_BINS_CONF),
          s"maxBins='$bad' got: ${e.getMessage}")
      }
    }
  }

  test("q_join_asof_binned (#112): row-identical to q_join_asof, including no-match lefts") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toSeq
    val classic = rows(graft.queries.Relational.qJoinAsof(spark, sf0001))
    val binned = rows(graft.queries.Relational3.qJoinAsofBinned(spark, sf0001))
    assert(classic.nonEmpty)
    assert(binned == classic,
      s"binned as-of diverges: ${binned.diff(classic).take(3)} vs ${classic.diff(binned).take(3)}")

    // edge semantics the fixture doesn't plant (every purchase there
    // has a prior order): no-match left keeps nulls; exact-tie time
    // (rt == t) is IN; carry crosses empty bins; tie at same rt breaks
    // by the tiebreak column — all through the API directly
    val sess = spark; import sess.implicits._
    val l = Seq((1L, 10L, 1000L), (2L, 20L, 5L), (3L, 10L, 2500L), (4L, 10L, 100L))
      .toDF("lid", "k", "t")
    val r = Seq((10L, 100L, 7L, "a"), (10L, 100L, 9L, "b"), (10L, 900L, 1L, "c"))
      .toDF("rk", "rt", "rtb", "v")
    val out = graft.api.AsofBinJoin.asofJoin(
        l, "lid", "t", Seq("k"), r, "rt", Seq("rk"), Seq("rtb"), binWidth = 100L)
      .select("lid", "v").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(out(1L) == Some("c"), "latest-before across bins (rt=900 <= t=1000)")
    assert(out(2L) == None, "no-match key keeps null")
    assert(out(3L) == Some("c"), "carry must cross empty bins (bins 10..24 empty)")
    assert(out(4L) == Some("b"), "rt == t is IN; tie at rt=100 breaks by tiebreak desc")
  }

  test("AsofBinJoin forward/strict duals: earliest-after pick, forward carry, strict boundary") {
    val sess = spark; import sess.implicits._
    val l = Seq((1L, 10L, 50L), (2L, 20L, 5L), (3L, 10L, 2500L), (4L, 10L, 100L))
      .toDF("lid", "k", "t")
    val r = Seq((10L, 100L, 7L, "a"), (10L, 100L, 9L, "b"), (10L, 900L, 1L, "c"))
      .toDF("rk", "rt", "rtb", "v")
    def run(strict: Boolean) = graft.api.AsofBinJoin.asofJoin(
        l, "lid", "t", Seq("k"), r, "rt", Seq("rk"), Seq("rtb"), binWidth = 100L,
        direction = "forward", strict = strict)
      .select("lid", "v").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    val incl = run(strict = false)
    assert(incl(1L) == Some("a"), "earliest-after picks min (rt, tiebreak): rt=100 tb=7")
    assert(incl(2L) == None, "no-match key keeps null")
    assert(incl(3L) == None, "nothing at or after t=2500 — forward no-match")
    assert(incl(4L) == Some("a"), "rt == t is IN when strict=false; tie breaks by tiebreak asc")
    val str = run(strict = true)
    assert(str(4L) == Some("c"),
      "strict=true excludes rt == t (both rt=100 rows) — carry from a later bin wins")
    assert(str(1L) == Some("a"), "strictness only moves the boundary row")
    // direction typo fails fast, not silently-backward
    intercept[IllegalArgumentException] {
      graft.api.AsofBinJoin.asofJoin(l, "lid", "t", Seq("k"), r, "rt", Seq("rk"),
        Seq("rtb"), binWidth = 100L, direction = "fwd")
    }
  }

  test("AsofBinJoin tolerance: a pick beyond the bound nulls out, inside it survives — both directions") {
    val sess = spark; import sess.implicits._
    val l = Seq((1L, 10L, 1000L), (2L, 10L, 950L)).toDF("lid", "k", "t")
    val r = Seq((10L, 900L, 1L, "c")).toDF("rk", "rt", "rtb", "v")
    def run(dir: String, tol: Long) = graft.api.AsofBinJoin.asofJoin(
        l, "lid", "t", Seq("k"), r, "rt", Seq("rk"), Seq("rtb"), binWidth = 100L,
        direction = dir, toleranceUs = Some(tol))
      .select("lid", "v").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    // backward: rt=900; lid=1 is 100 away, lid=2 is 50 away
    val b = run("backward", 60L)
    assert(b(1L) == None, "pick 100 beyond a 60 tolerance must null out")
    assert(b(2L) == Some("c"), "pick 50 inside a 60 tolerance survives")
    // forward from t=500: rt=900 is 400 away
    val f = graft.api.AsofBinJoin.asofJoin(
        Seq((3L, 10L, 500L)).toDF("lid", "k", "t"), "lid", "t", Seq("k"),
        r, "rt", Seq("rk"), Seq("rtb"), binWidth = 100L,
        direction = "forward", toleranceUs = Some(300L))
      .select("lid", "v").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(f(3L) == None, "forward pick 400 beyond a 300 tolerance must null out")
    intercept[IllegalArgumentException] {
      graft.api.AsofBinJoin.asofJoin(l, "lid", "t", Seq("k"), r, "rt", Seq("rk"),
        Seq("rtb"), binWidth = 100L, toleranceUs = Some(0L))
    }
  }

  test("q_dedup_clusters (#103): a valid partition of the pair graph into min-labeled components") {
    val pairs = graft.queries.MinHashDf.qDedupMinhashDf(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = graft.queries.SearchDedup.qDedupClusters(spark, sf0001)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    // every doc in a pair is labeled, and both endpoints agree
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b), s"unlabeled endpoint in ($a,$b)")
      assert(clusters(a) == clusters(b), s"edge ($a,$b) spans clusters ${clusters(a)}/${clusters(b)}")
    }
    // label = min member of its component (so exemplar selection is canonical)
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label, s"cluster $label: min member is ${members.keys.min}")
    }
    // and the fixture's planted chains actually exercise transitivity:
    // at least one component must be larger than a single pair
    assert(clusters.groupBy(_._2).exists(_._2.size > 2),
      "fixture should contain a >2-doc near-dup cluster (chain) — " +
        "if not, the oracle's recursive closure is untested beyond pairs")
  }

  test("q_dedup_canonical (#121): exactly one kept doc per cluster, and it's the quality max") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.queries.SearchDedup.qDedupCanonical(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster_id"), r.getAs[Int]("is_kept")))
    // total: every doc appears exactly once
    assert(rows.map(_._1).toSet == docs.keySet)
    // exactly one kept representative per cluster
    rows.groupBy(_._2).foreach { case (c, members) =>
      val kept = members.filter(_._3 == 1)
      assert(kept.length == 1, s"cluster $c keeps ${kept.length} docs")
      // and it is the n_chars max (doc_id tiebreak)
      val want = members.map(_._1).minBy(id => (-docs(id), id))
      assert(kept.head._1 == want,
        s"cluster $c kept ${kept.head._1}, expected quality-max $want")
    }
    // clustered docs must agree with #103's assignment; singletons
    // keep themselves under their own id
    val clusters = graft.queries.SearchDedup.qDedupClusters(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, c, keep) =>
      assert(c == clusters.getOrElse(id, id))
      if (!clusters.contains(id)) assert(keep == 1, s"singleton $id must be kept")
    }
    // the fixture genuinely drops something (dups exist by construction)
    assert(rows.count(_._3 == 0) > 0, "no duplicates dropped — fixture drifted?")
  }

  test("overlapJoin (#123): rows == naive range-only join; each pair emitted exactly once") {
    val sess = spark; import sess.implicits._
    // planted geometry: touching endpoints, containment, multi-bin
    // spans, and disjoint pairs — with a binWidth (10) far smaller
    // than some intervals so pairs co-occur in MANY shared bins and
    // the canonical-bin dedup is genuinely exercised
    val a = Seq((1L, 0L, 35L), (2L, 40L, 41L), (3L, 100L, 160L))
      .toDF("aid", "a_lo", "a_hi")
    val b = Seq((10L, 35L, 36L),  // touches a1's end exactly
                (11L, 5L, 125L),  // overlaps a1, a2 AND a3, spans 13 bins
                (12L, 42L, 45L),  // near-miss: starts 1 after a2 ends
                (13L, 200L, 210L) // disjoint from all
      ).toDF("bid", "b_lo", "b_hi")
    val got = graft.api.RangeBinJoin.overlapJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
        binWidth = 10L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val naive = a.join(b, $"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi")
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == naive.sorted,
      s"binned overlap must equal the naive range join; got $got want $naive")
    // EXACTLY once — the canonical-bin trick must not duplicate the
    // wide pair (1,11) that shares 4 bins or (3,11) sharing 3
    assert(got.size == got.distinct.size, s"duplicated pairs in $got")
    assert(got.toSet == Set((1L, 10L), (1L, 11L), (2L, 11L), (3L, 11L)))
  }

  test("PiiScrub (#122): planted spans masked, counts audit actual replacements, boundaries respected") {
    val sess = spark; import sess.implicits._
    val df = Seq(
      (1L, "write to bob.smith+x@corp.example.org today"),
      (2L, "acct 123456789 and card 9876543210 ok"),       // two ≥9-digit runs
      (3L, "short 12345678 stays"),                        // 8 digits — below threshold
      (4L, "dual a1@b.co plus id 555000111222"),
      (5L, "clean text no pii"),
      (6L, "mail 123456789012@x.io end"),                  // ≥9 digits INSIDE an email
      (7L, "pay 4111 1111 1111 1111 now"),                 // Luhn-valid card, spaced
      (8L, "fake 4111111111111112 here"),                  // card-shaped, Luhn-INVALID
      (9L, "srv 192.168.10.1 via 2001:0db8:85a3:0000:0000:8a2e:0370:7334"),
      (10L, "call +14155551234 or 415-555-1234")
    ).toDF("doc_id", "text")
    val out = graft.api.PiiScrub.scrub(df, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("nemail"),
        r.getAs[Long]("nipv6"), r.getAs[Long]("nipv4"), r.getAs[Long]("ncard"),
        r.getAs[Long]("nphone"), r.getAs[Long]("nphonesep"),
        r.getAs[Long]("nid"), r.getAs[String]("text")))
    assert(out(0) == ((1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, "write to <EMAIL> today")))
    assert(out(1) == ((2L, 0L, 0L, 0L, 0L, 0L, 0L, 2L, "acct <ID> and card <ID> ok")))
    assert(out(2) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, "short 12345678 stays")))
    assert(out(3) == ((4L, 1L, 0L, 0L, 0L, 0L, 0L, 1L, "dual <EMAIL> plus id <ID>")))
    assert(out(4) == ((5L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, "clean text no pii")))
    // ADVICE r11 semantics: counts audit REPLACEMENTS — the ≥9-digit
    // run consumed by the email rule is NOT double-counted as an id
    assert(out(5) == ((6L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, "mail <EMAIL> end")))
    // Luhn gate, both directions: valid masks as <CARD>; the invalid
    // lookalike falls through to the digit-run rule instead
    assert(out(6) == ((7L, 0L, 0L, 0L, 1L, 0L, 0L, 0L, "pay <CARD> now")))
    assert(out(7) == ((8L, 0L, 0L, 0L, 0L, 0L, 0L, 1L, "fake <ID> here")))
    assert(out(8) == ((9L, 0L, 1L, 1L, 0L, 0L, 0L, 0L, "srv <IPV4> via <IPV6>")))
    assert(out(9) == ((10L, 0L, 0L, 0L, 0L, 1L, 1L, 0L, "call <PHONE> or <PHONE>")))
  }

  test("q_train_split (#120): deterministic pure-projection split with sane ratios") {
    val a = graft.queries.PipelineExtras.qTrainSplit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val b = graft.queries.PipelineExtras.qTrainSplit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(a.toSeq == b.toSeq, "split assignment must be run-deterministic")
    val n = a.length.toDouble
    val frac = a.groupBy(_._2).view.mapValues(_.length / n).toMap
    // md5 buckets: train 13/16, val 1/16, test 2/16 — generous bands
    // for a 500-doc fixture (binomial noise)
    assert(frac("train") > 0.70 && frac("train") < 0.90, s"train frac ${frac("train")}")
    assert(frac.getOrElse("val", 0.0) < 0.15 && frac.getOrElse("test", 0.0) < 0.25)
    assert(frac.values.sum > 0.999)
    // pure projection: no hash-partition exchange anywhere in the plan
    // (the single range exchange is the harness ORDER BY)
    val p = graft.queries.PipelineExtras.qTrainSplit(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"),
      s"split assignment must not shuffle:\n$p")
  }

  test("KLL quantile sketch: rank error within bound vs exact sort; grouped partials union to the same answer") {
    graft.functions.KllQuantile.register(spark)
    graft.Engine.init(spark, sf0001)
    val sess = spark; import sess.implicits._
    val exact = spark.table("lineitem")
      .select($"l_extendedprice".cast("double")).as[Double]
      .collect().sorted
    val n = exact.length
    val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    def rankOf(v: Double): Double = {
      val idx = exact.count(_ <= v) // inclusive rank
      idx.toDouble / n
    }
    // direct sketch over the column, via plain SQL through Engine
    val direct = spark.sql(
      s"""SELECT kll_quantiles(kll_sketch_agg(CAST(l_extendedprice AS DOUBLE)),
         |       array(${probs.mkString(", ")})) AS qs FROM lineitem""".stripMargin)
      .collect()(0).getSeq[Double](0)
    // KLL k=200 normalized rank error ≈ 1.65%; assert with headroom
    probs.zip(direct).foreach { case (p, est) =>
      assert(math.abs(rankOf(est) - p) <= 0.03,
        s"p=$p: estimate $est has rank ${rankOf(est)} (err > 3%)")
    }
    // mergeability: per-group partial sketches → kll_union_agg must
    // hold the SAME bound (the partial-aggregation / persistence path)
    val merged = spark.sql(
      s"""SELECT kll_quantiles(kll_union_agg(sk), array(${probs.mkString(", ")})) AS qs
         |FROM (SELECT l_returnflag,
         |             kll_sketch_agg(CAST(l_extendedprice AS DOUBLE)) AS sk
         |      FROM lineitem GROUP BY l_returnflag)""".stripMargin)
      .collect()(0).getSeq[Double](0)
    probs.zip(merged).foreach { case (p, est) =>
      assert(math.abs(rankOf(est) - p) <= 0.03,
        s"merged p=$p: estimate $est has rank ${rankOf(est)} (err > 3%)")
    }
    // empty input → NaNs, not a crash
    val empty = spark.sql(
      """SELECT kll_quantiles(kll_sketch_agg(CAST(l_extendedprice AS DOUBLE)),
        |       array(0.5)) AS qs FROM lineitem WHERE l_orderkey < 0""".stripMargin)
      .collect()(0).getSeq[Double](0)
    assert(empty.head.isNaN)
    // k preservation (r9 ADVICE fix): unioning k=400 partials must
    // yield a k=400 sketch, not silently clamp to the k=200 default
    // (KLL merge takes min-k, so a default-sized union buffer would
    // halve the advertised accuracy); explicit kll_union_agg(sk, 400)
    // pins the same thing without relying on first-input inference
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    Seq("kll_union_agg(sk)", "kll_union_agg(sk, 400)").foreach { agg =>
      val bytes = spark.sql(
        s"""SELECT $agg AS sk
           |FROM (SELECT l_returnflag,
           |             kll_sketch_agg(CAST(l_extendedprice AS DOUBLE), 400) AS sk
           |      FROM lineitem GROUP BY l_returnflag)""".stripMargin)
        .collect()(0).getAs[Array[Byte]](0)
      val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
      assert(sk.getK == 400, s"$agg of k=400 partials degraded to k=${sk.getK}")
      assert(sk.getN == n, s"$agg lost values: ${sk.getN} != $n")
    }
  }

  test("Profiling.profileStats: approx mode adds KLL p50/p95 in one expand-free pass, rank error <= 3%") {
    val sess = spark; import sess.implicits._
    val li = Tables.lineitem(spark, sf0001)
    val cols = graft.queries.Analytics.PROFILE_STATS_COLS
    val exactDf = graft.api.Profiling.profileStats(li, cols)
    val approxDf = graft.api.Profiling.profileStats(li, cols, exact = false)
    // shape: approx = exact's six columns + p50 + p95
    assert(exactDf.columns.toSeq ==
      Seq("column_name", "n_nulls", "n_distinct", "min_v", "max_v", "avg_v"))
    assert(approxDf.columns.toSeq == exactDf.columns.toSeq ++ Seq("p50", "p95"))
    val approx = approxDf.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    val exact = exactDf.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    cols.foreach { c =>
      val (nnA, ndA, mnA, mxA, _, p50, p95) = approx(c)
      val (nnE, ndE, mnE, mxE) = exact(c)
      assert(nnA == nnE && mnA == mnE && mxA == mxE,
        s"$c: null/min/max must be exact in both modes")
      assert(math.abs(ndA - ndE).toDouble / math.max(ndE, 1L) <= 0.05,
        s"$c: approx distinct $ndA vs exact $ndE")
      // KLL k=200 rank error ~1.65%: the estimate must lie between the
      // exact quantiles at p ± 3%. (A value-rank assertion would be
      // wrong on discrete columns — l_linenumber has 7 values, so the
      // CDF jumps ~14% per value and the rank of even the TRUE
      // quantile overshoots p.)
      val vals = li.select(col(c).cast("double")).as[Double].collect().sorted
      def exactQ(p: Double) = graft.util.Stats.nearestRank(vals, p)
      assert(p50 >= exactQ(0.47) && p50 <= exactQ(0.53),
        s"$c: p50=$p50 outside [${exactQ(0.47)}, ${exactQ(0.53)}]")
      assert(p95 >= exactQ(0.92) && p95 <= exactQ(0.98),
        s"$c: p95=$p95 outside [${exactQ(0.92)}, ${exactQ(0.98)}]")
    }
    // the scale claim: the approx pass has NO multi-distinct expand
    val p = approxDf.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"),
      s"approx profileStats must not need the multi-distinct expand:\n$p")
  }

  test("Profiling.profile: approx mode matches exact shape with HLL rel-err <= 5%; no expand in the plan") {
    val orders = Tables.orders(spark, sf0001)
    val exact = graft.api.Profiling.profile(orders).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val approxDf = graft.api.Profiling.profile(orders, exact = false)
    val approx = approxDf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(exact.map(_._1).toSeq == approx.map(_._1).toSeq, "same column rows")
    exact.zip(approx).foreach { case ((c, nnE, ndE), (_, nnA, ndA)) =>
      assert(nnE == nnA, s"$c: null counts are exact in both modes")
      assert(math.abs(ndA - ndE).toDouble / math.max(ndE, 1L) <= 0.05,
        s"$c: approx distinct $ndA vs exact $ndE beyond 5%")
    }
    // the point of approx mode at scale: ONE ordinary aggregate — no
    // multi-distinct Expand multiplying the scan by #columns
    val p = approxDf.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"),
      s"approx profile must not need the multi-distinct expand:\n$p")
    // r19 optimization round: the EXACT mode is Expand-free too — one
    // single-distinct aggregate per column, unioned (a single distinct
    // group plans as partial-agg-by-value + merge, never Expand)
    assert(!plan(graft.api.Profiling.profile(orders)).contains("Expand"),
      "exact mode must plan per-column single-distinct aggregates, not the multi-distinct expand")
    assert(!plan(graft.api.Profiling.profileStats(
        Tables.lineitem(spark, sf0001),
        graft.queries.Analytics.PROFILE_STATS_COLS)).contains("Expand"),
      "exact profileStats must plan per-column single-distinct aggregates, not the multi-distinct expand")
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("q_dedup_embed_bucketed (#111): recall vs the exact row, candidates bounded, blocking beats chance") {
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count()
    val allPairs = n * (n - 1) / 2
    // #63's label-blocked exact pairs are the recall reference
    val exact = graft.queries.PipelineExtras.qDedupEmbedCosine(spark, sf0001)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain cos >= 0.4 pairs")
    // r13: the contract row runs the corpus-scaled affine table
    // (bits = bitLength(n-1) = 9 at n = 500) — the 100 TB path
    val table = graft.api.EmbedBlocking.scaledTable(n)
    assert(table.head.length == 9, "fixture n=500 must scale to 9 bits")
    val cands = graft.api.EmbedBlocking.candidatePairs(e, "vec_id", "embedding", table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val frac = cands.size.toDouble / allPairs
    // scale shape: candidates stay under the band model bound
    // BANDS * 2^-bits = 64/512 = 0.125 (measured 0.107)
    assert(frac <= 0.125, f"candidate fraction $frac%.3f exceeds the band model bound")
    // recall on the fixture's WORST-case geometry (random unit
    // vectors, tau=0.4 => per-dim sign agreement ~0.63): deterministic
    // measured 3/5 = 0.6 here; production near-dup thresholds
    // (cos >= 0.85) put the scaled table at recall >= 0.93 (model in
    // EmbedBlocking scaladoc; planted-pair recall pinned below)
    val recall = (exact & cands).size.toDouble / exact.size
    assert(recall >= 0.55, f"recall $recall%.2f vs #63's pairs below floor")
    // the blocking must CONCENTRATE true pairs, not sample at random:
    // recall >= 3x the candidate fraction (measured ~5.6x)
    assert(recall >= 3 * frac,
      f"recall $recall%.2f <= 3 x candidate fraction $frac%.3f — blocking no better than chance")
    // and the oracled row's output = exact cosine re-rank over exactly
    // these candidates (subset sanity vs a brute-force recompute)
    val out = graft.queries.PipelineExtras.qDedupEmbedBucketed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.subsetOf(cands), "output pairs must come from the candidate set")
    assert((exact & cands).subsetOf(out),
      "every exact pair that IS a candidate must survive the re-rank")
  }

  test("EmbedBlocking frozen BAND_DIMS (regression): the r9-r12 8-bit table keeps its measured floors") {
    // the frozen table is no longer the contract default (it is
    // quadratic at scale — r12 curve) but stays API-reachable; pin
    // its round-9 floors so the regression surface doesn't rot
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count()
    val exact = graft.queries.PipelineExtras.qDedupEmbedCosine(spark, sf0001)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = graft.api.EmbedBlocking.candidatePairs(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val frac = cands.size.toDouble / (n * (n - 1) / 2)
    assert(frac <= 0.25, f"frozen-table candidate fraction $frac%.3f exceeds model bound")
    val recall = (exact & cands).size.toDouble / exact.size
    assert(recall >= 0.6, f"frozen-table recall $recall%.2f below its r9 floor")
  }

  test("EmbedBlocking.scaledTable: wider bits shrink candidates sharply, planted near-dups still recalled") {
    // the round-12 scaling curve measured the FROZEN 8-bit table at
    // 27x time on 10x random vectors (quadratic candidates — see
    // BASELINE.md); the scaled table is the linear-scale path: this
    // pins BOTH halves of its contract on one corpus
    val sess = spark; import sess.implicits._
    val rnd = new scala.util.Random(7L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] = {
      val w = v.map(x => x + eps * rnd.nextGaussian().toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum).toFloat
      w.map(_ / n)
    }
    // 1100 random vectors + 30 planted tight near-dup pairs (cos ~0.93)
    val base = (0 until 1100).map(i => (i.toLong, unit()))
    val planted = (0 until 30).map { i =>
      val v = base(i)._2
      ((10000 + i).toLong, jitter(v, 0.05f))
    }
    val e = (base ++ planted).toDF("vec_id", "embedding")
    val plantedPairs = (0 until 30).map(i => (i.toLong, (10000 + i).toLong)).toSet
    val wide = graft.api.EmbedBlocking.scaledTable(1130) // ceil(log2) = 11 bits
    assert(wide.head.length >= graft.api.EmbedBlocking.BITS + 3,
      "scaledTable must widen bits beyond the frozen default at this n")
    val candsWide = graft.api.EmbedBlocking
      .candidatePairs(e, "vec_id", "embedding", wide)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands8 = graft.api.EmbedBlocking
      .candidatePairs(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (a) candidate volume drops with 2^-(bits-8) on unrelated pairs
    // (model x8 at +3 bits; assert a conservative x3 — correlated
    // pairs rightly keep colliding)
    assert(candsWide.size * 3 <= cands8.size,
      s"wider bits must shrink candidates: ${candsWide.size} vs ${cands8.size}")
    // (b) tight near-dups survive: cos ~0.93 => p ~ 0.88 per dim =>
    // per-band collision p^11 ~ 0.25, recall over 64 bands ~ 1
    val recall = (plantedPairs & candsWide).size.toDouble / plantedPairs.size
    assert(recall >= 0.9, f"planted near-dup recall $recall%.2f under the scaled table")
  }

  test("theta sketch (#126): set-op estimates within RSE bounds in ESTIMATION mode; partials union to the direct sketch") {
    graft.functions.ThetaSketch.register(spark)
    val sess = spark; import sess.implicits._
    // 30k distincts >> 4096 nominal entries forces estimation mode —
    // the fixture (~hundreds of users) would be exact and prove
    // nothing about the error model. A: multiples of 2, B: multiples
    // of 3 → known exact intersections.
    val df = (0 until 60000).map(i => (i.toLong, i % 4)).toDF("v", "g")
    df.createOrReplaceTempView("theta_t")
    val row = spark.sql(
      """SELECT theta_sketch_agg(CASE WHEN v % 2 = 0 THEN v END) AS ska,
        |       theta_sketch_agg(CASE WHEN v % 3 = 0 THEN v END) AS skb
        |FROM theta_t""".stripMargin).head
    val (ska, skb) = (row.getAs[Array[Byte]](0), row.getAs[Array[Byte]](1))
    def est(sql: String): Double =
      spark.sql(sql).head.getDouble(0)
    spark.createDataFrame(Seq(Tuple2(ska, skb))).toDF("a", "b")
      .createOrReplaceTempView("theta_sk")
    val nA = 30000.0; val nB = 20000.0
    val nI = 10000.0; val nU = nA + nB - nI // multiples of 6 overlap
    val estA = est("SELECT theta_est(a) FROM theta_sk")
    val estU = est("SELECT theta_union_est(a, b) FROM theta_sk")
    val estI = est("SELECT theta_intersect_est(a, b) FROM theta_sk")
    val estD = est("SELECT theta_anotb_est(a, b) FROM theta_sk")
    assert(math.abs(estA - nA) / nA < 0.05, s"|A| est $estA vs $nA")
    assert(math.abs(estU - nU) / nU < 0.05, s"|A∪B| est $estU vs $nU")
    assert(math.abs(estI - nI) / nU < 0.05, s"|A∩B| est $estI vs $nI (band on union)")
    assert(math.abs(estD - (nA - nI)) / nU < 0.05, s"|A\\B| est $estD vs ${nA - nI}")
    // mergeability: grouped partials re-unioned == the direct sketch's
    // estimate (theta union is associative; same persistence move as
    // kll_union_agg)
    val direct = est("SELECT theta_est(theta_sketch_agg(v)) FROM theta_t")
    val merged = est(
      """SELECT theta_est(theta_union_agg(sk)) FROM
        |  (SELECT g, theta_sketch_agg(v) AS sk FROM theta_t GROUP BY g)""".stripMargin)
    assert(math.abs(direct - merged) / direct < 0.05,
      s"partial-union $merged must track the direct sketch $direct")
  }

  test("SegmentSketches: persisted per-segment sketches answer overlap/coverage without rescanning; refresh is idempotent") {
    val sess = spark; import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("seg_sk").toString + "/t"
    // segments with KNOWN overlaps, sized to force estimation mode:
    // s0 = [0, 20k), s1 = [5k, 25k), s2 = [40k, 60k) (disjoint from both)
    val df = (Seq.tabulate(20000)(i => ("s0", i.toLong)) ++
      Seq.tabulate(20000)(i => ("s1", 5000L + i)) ++
      Seq.tabulate(20000)(i => ("s2", 40000L + i))).toDF("seg", "k")
    graft.api.SegmentSketches.build(spark, df, "seg", "k", dir)
    val m = graft.api.SegmentSketches.overlapMatrix(spark, dir)
      .map(t => (t._1, t._2) -> t).toMap
    val o01 = m(("s0", "s1"))
    assert(math.abs(o01._6 - 15000.0) / 25000.0 < 0.05,
      s"s0∩s1 est ${o01._6} vs exact 15000 (band on union 25000)")
    assert(math.abs(o01._5 - 25000.0) / 25000.0 < 0.05, s"s0∪s1 est ${o01._5}")
    val o02 = m(("s0", "s2"))
    assert(o02._6 / 40000.0 < 0.02, s"disjoint segments must estimate ~0 overlap, got ${o02._6}")
    // subset coverage: s0 ∪ s2 = 40k exact
    val cov = graft.api.SegmentSketches.unionCoverage(spark, dir, Seq("s0", "s2"))
    assert(math.abs(cov - 40000.0) / 40000.0 < 0.05, s"coverage est $cov vs 40000")
    // refresh with the SAME data: estimates must not inflate (theta
    // union of already-seen keys is a no-op on the estimate)
    val before = graft.api.SegmentSketches.load(spark, dir)
      .view.mapValues(_._1.getEstimate).toMap
    graft.api.SegmentSketches.refresh(spark, df, "seg", "k", dir)
    val after = graft.api.SegmentSketches.load(spark, dir)
      .view.mapValues(_._1.getEstimate).toMap
    before.foreach { case (seg, est) =>
      assert(math.abs(after(seg) - est) / math.max(est, 1.0) < 0.03,
        s"re-ingesting identical keys must not move $seg: $est -> ${after(seg)}")
    }
    // refresh with NEW keys + a NEW segment: both visible afterwards
    val extra = (Seq.tabulate(10000)(i => ("s0", 100000L + i)) ++
      Seq.tabulate(5000)(i => ("s3", 200000L + i))).toDF("seg", "k")
    graft.api.SegmentSketches.refresh(spark, extra, "seg", "k", dir)
    val grown = graft.api.SegmentSketches.load(spark, dir)
    assert(math.abs(grown("s0")._1.getEstimate - 30000.0) / 30000.0 < 0.05,
      s"s0 must grow to ~30000, got ${grown("s0")._1.getEstimate}")
    assert(math.abs(grown("s3")._1.getEstimate - 5000.0) / 5000.0 < 0.05,
      "new segment must appear with its own sketch")
  }

  test("SegmentSketches.sinkRefresh: streamed sketch table == batch build (idempotent unions, bootstrap included)") {
    val sess = spark; import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val base = java.nio.file.Files.createTempDirectory("seg_stream").toString
    val dir = s"$base/t"; val cp = s"$base/cp"
    val ev = Tables.events(spark, sf0001)
      .select($"event_type", $"user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (c1, c2) = ev.splitAt(ev.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    def run(): Unit = {
      val q = graft.api.SegmentSketches.sinkRefresh(
        ms.toDF().toDF("seg", "k"), "seg", "k", dir, cp)
      assert(q.awaitTermination(120000)); ()
    }
    ms.addData(c1.toSeq: _*); run()   // bootstrap from batch 0
    ms.addData(c2.toSeq: _*); run()   // incremental union
    val streamed = graft.api.SegmentSketches.load(spark, dir)
      .view.mapValues(_._1.getEstimate).toMap
    // batch reference over the same data
    val bdir = s"$base/batch"
    graft.api.SegmentSketches.build(spark,
      ev.toSeq.toDF("seg", "k"), "seg", "k", bdir)
    val batch = graft.api.SegmentSketches.load(spark, bdir)
      .view.mapValues(_._1.getEstimate).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (seg, est) =>
      assert(math.abs(streamed(seg) - est) / math.max(est, 1.0) < 0.01,
        s"streamed sketch for $seg (${streamed(seg)}) must match batch ($est)")
    }
  }

  test("SegmentSketches.refresh: cancelling any one of its jobs keeps the previous sketches, and the next sinkRefresh batch unions into them") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.api.SegmentSketches
    val sess = spark; import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val sc = spark.sparkContext
    val base = java.nio.file.Files.createTempDirectory("seg_crash").toString
    val dir = s"$base/t"; val cp = s"$base/cp"
    // every segment stays below the sketches' nominal entries, so each
    // estimate is the exact distinct count and states compare exactly
    def rows(seg: String, from: Long, n: Int) = Seq.tabulate(n)(i => (seg, from + i))
    def state(): Map[String, (Double, Long)] = SegmentSketches.load(spark, dir)
      .map { case (s, (sk, n)) => s -> (sk.getEstimate, n) }
    SegmentSketches.build(spark, rows("s0", 0L, 2000).toDF("seg", "k"), "seg", "k", dir)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val refreshGroup = "seg-sketch-refresh"
    val syncGroup = "seg-sketch-sync"
    val cancelAt = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val synced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`refreshGroup`) =>
            if (started.incrementAndGet() == cancelAt.get) sc.cancelJob(e.jobId)
          case Some(`syncGroup`) => synced.set(true)
          case _ =>
        }
    }
    // the listener bus is FIFO: once the sync job's start arrives,
    // every job refresh started has been delivered too
    def drainListener(): Unit = {
      synced.set(false)
      sc.setJobGroup(syncGroup, "listener sync")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!synced.get && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(synced.get, "the listener bus never delivered the sync job")
    }
    sc.addSparkListener(listener)
    var cancelled = 0
    try {
      var k = 1
      var more = true
      while (more) {
        val before = state()
        started.set(0); cancelAt.set(k)
        sc.setJobGroup(refreshGroup, s"refresh, cancel job $k")
        val outcome = try scala.util.Try(SegmentSketches.refresh(spark,
            rows(s"r$k", 10000L * k, 300).toDF("seg", "k"), "seg", "k", dir))
          finally sc.clearJobGroup()
        drainListener()
        more = started.get >= k
        assert(k <= 8 || !more, s"refresh kept starting jobs: ${started.get}")
        if (outcome.isFailure) cancelled += 1
        // a refresh whose job was cancelled publishes nothing; one whose
        // cancelled job had already finished publishes in full
        val expected =
          if (outcome.isFailure) before else before + (s"r$k" -> (300.0, 300L))
        val got = scala.util.Try(state())
        assert(got == scala.util.Success(expected),
          s"after cancelling refresh job $k of ${started.get} ($outcome): $got")
        ms.addData(rows(s"b$k", 20000L * k, 200): _*)
        val q = SegmentSketches.sinkRefresh(ms.toDF().toDF("seg", "k"), "seg", "k", dir, cp)
        assert(q.awaitTermination(120000))
        assert(state() == expected + (s"b$k" -> (200.0, 200L)),
          s"the sinkRefresh batch after cancelling refresh job $k must union into the stored sketches")
        k += 1
      }
    } finally sc.removeSparkListener(listener)
    assert(cancelled > 0, "no refresh job was cancelled before it finished")
  }

  test("q_text_chunk (#127): stride windows reconstruct every document exactly; overlap is W-S") {
    val W = graft.queries.TextModel.CHUNK_W
    val S = graft.queries.TextModel.CHUNK_S
    val chunks = graft.queries.TextModel.qTextChunk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.keySet == docs.keySet, "every doc must chunk")
    docs.foreach { case (id, text) =>
      val words = text.split(" ").toSeq
      val cs = chunks(id).map(_.split(" ").toSeq)
      // chunk 0 is the first W words; each later chunk re-carries the
      // last W-S words of its predecessor's window, so dropping that
      // overlap and concatenating reconstructs the doc EXACTLY
      assert(cs.head == words.take(W), s"doc $id chunk 0 wrong")
      val rebuilt = cs.head ++ cs.tail.flatMap(_.drop(W - S))
      assert(rebuilt == words, s"doc $id: chunks must reconstruct the text exactly")
      // no degenerate trailing chunk
      assert(cs.forall(_.nonEmpty))
    }
  }

  test("q_text_ngram_lm (#125): train-split model — train docs never OOV, scores rank garbage below fixture text") {
    val out = graft.queries.TextModel.qTextNgramLm(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length > 400, "nearly every fixture doc has >= 2 words")
    // train docs (md5 rule) were IN the model: every bigram seen => oov = 0
    val trainIds = graft.queries.PipelineExtras.qTrainSplit(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("split") === "train")
      .collect().map(_.getLong(0)).toSet
    val (tr, te) = out.partition(r => trainIds(r._1))
    assert(tr.nonEmpty && tr.forall(_._4 == 0.0),
      "a train doc cannot contain an out-of-model bigram")
    // scores are log-probs: strictly negative, and the corpus mean
    // beats the uniform floor ln(1/V) by a wide margin
    assert(out.forall(_._3 < 0.0))
    val meanTr = tr.map(_._3).sum / tr.size
    // held-out docs score lower on average than train docs (they can
    // contain unseen bigrams) but remain comparable — sanity that the
    // model generalizes over the shared vocabulary
    if (te.nonEmpty) {
      val meanTe = te.map(_._3).sum / te.size
      assert(meanTe <= meanTr + 0.2,
        f"held-out mean $meanTe%.3f should not beat train mean $meanTr%.3f by a margin")
    }
  }

  test("q_text_bm25 (#102): top-10, descending rounded scores, multi-term ranking sane") {
    val rows = graft.queries.SearchDedup.qTextBm25(spark, sf0001).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y }, "scores must descend")
    assert(scores.head > 0.0, "fixture vocabulary contains the query terms")
  }

  test("NearDupStream: batch explode+groupBy signatures == streaming HOF signatures, row for row (r19)") {
    // the r19 codegen twin must compute bit-identical minhash
    // signatures to the per-row HOF projection the streaming path
    // keeps (q_stream_neardup's stream==batch pin depends on it)
    val docs = Tables.documents(spark, sf0001)
    val hof = graft.api.NearDupStream.signatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val batch = graft.api.NearDupStream.batchSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (1 to graft.api.NearDupStream.NUM_HASHES).map(i => r.getLong(i)).toVector).toMap
    assert(batch.keySet == hof.keySet, "same doc set (>= 3 words)")
    assert(hof.nonEmpty)
    hof.foreach { case (id, sigs) =>
      assert(batch(id) == sigs, s"doc $id: batch sigs ${batch(id)} != HOF sigs $sigs")
    }
  }
}
