package graft

import org.apache.spark.sql.SparkSession
import graft.functions.FloatVecDot

/** User-facing entry point: make a SparkSession "graft-ready" for a
  * dataset directory — all tables registered as views (events with
  * the ns-timestamp recipe already applied) and the engine's custom
  * functions available from SQL. After `Engine.init`, the entire
  * capability surface is reachable through plain `spark.sql`, except
  * the `range_bin`/`skew_salt` join hints and the
  * `spark.graft.rangeBin.width` conf: their rules are installed only
  * by a session built with `spark.sql.extensions=graft.GraftExtensions`.
  *
  * {{{
  *   graft.Engine.init(spark, "/root/testdata/sf0.01")
  *   spark.sql("""
  *     SELECT c_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) t
  *     FROM orders JOIN customer ON o_custkey = c_custkey
  *     GROUP BY c_name ORDER BY t DESC LIMIT 5""")
  *   spark.sql("SELECT fvec_dot(a.embedding, b.embedding) FROM embeddings a, embeddings b")
  * }}}
  */
object Engine {
  val TABLES: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def init(spark: SparkSession, dir: String): Unit = {
    // determinism contract (SURVEY §2.5) assumes UTC — user sessions
    // won't have set it, same reasoning as Tables.events' nanos conf
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    TABLES.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    FloatVecDot.register(spark)
    functions.KllQuantile.register(spark) // kll_sketch_agg / kll_union_agg / kll_quantiles
    functions.ThetaSketch.register(spark) // theta_sketch_agg / theta_union_agg / set-op estimators
    // Misra–Gries frequent-items sketch as a SQL aggregate; capacity
    // fixed at registration (SQL aggregates can't take constructor
    // params per call) — register another name for other capacities.
    // Same capacity as q_text_topk_words so SQL and DataFrame forms
    // agree (the exactness guard in ExtrasSuite covers both).
    spark.udf.register("frequent_items",
      org.apache.spark.sql.functions.udaf(
        new functions.FrequentItems(queries.PipelineExtras.TOPK_WORDS_CAPACITY)))
    // SQL table functions: SELECT * FROM graft_funnel('events', …) —
    // the same descriptions GraftExtensions injects at session build
    api.EventAnalytics.registerTableFunctions(spark)
  }
}
