package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` keys are the SURVEY.md §2B inventory; each oracle-checked
  * key has the equivalent DuckDB SQL in `oracleSql` (tables referenced
  * by bare name — the harness points them at `{sfDir}/<table>.parquet`).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qAggGroupSum(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Scalars.queries ++ Streaming.queries ++
      LlmPipeline.queries ++ PipelineExtras.queries ++ Multimodal.queries ++
      MinHashDf.queries ++ Scalars2.queries ++ Relational2.queries ++
      Relational3.queries ++ SearchDedup.queries ++ Analytics.queries ++
      TextModel.queries ++ Linkage.queries

  /** Queries excluded from the Bench hot set (still in `queries`, still
    * correctness-gated every round). q_dedup_fuzzy_minhash is the MLlib
    * MinHashLSH cross-validation of q_dedup_minhash_df: its
    * approxSimilarityJoin explodes one row per (doc, hashTable) and was
    * ~15% of the round-1 bench while the pure-DataFrame banding variant
    * produces an oracle-checked superset of the signal at ~1/6 the cost
    * (round-1 verdict, perf item 1). It remains recall-asserted in
    * OperatorSuite. q_sim_ivfpq_ann builds the persisted IvfIndex
    * (Pq cell encoding; the index has one lifecycle for its Flat and
    * Pq encodings) inline — its time is the index BUILD (a maintenance
    * job, not a query); the probe path and recall are suite-pinned
    * (IvfIndexSuite).
    * q_sim_graph_ann (r13) is the same class: it builds the whole
    * NN-descent neighbor graph inline (LSH seeding + refinement +
    * eager checkpoints) before searching — an offline index job;
    * recall/structure floors are suite-pinned (GraphAnnSuite), and
    * the build+search lifecycle measured 2.1× at 10× data
    * (BASELINE.md r13 additions).
    */
  val benchExclude: Set[String] = Set("q_dedup_fuzzy_minhash", "q_sim_ivfpq_ann",
    "q_sim_graph_ann")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ Scalars.oracleSql ++ Streaming.oracleSql ++
      LlmPipeline.oracleSql ++ PipelineExtras.oracleSql ++ Multimodal.oracleSql ++
      MinHashDf.oracleSql ++ Scalars2.oracleSql ++ Relational2.oracleSql ++
      Relational3.oracleSql ++ SearchDedup.oracleSql ++ Analytics.oracleSql ++
      TextModel.oracleSql ++ Linkage.oracleSql
}
