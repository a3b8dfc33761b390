package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, IntegerType, LongType, ShortType, StringType}

/** The product-analytics wave (§2B #104/#105/#108) as REUSABLE
  * DataFrame builders and as SQL TABLE functions — so a warehouse
  * user types
  * {{{
  *   SELECT * FROM graft_funnel('events', 'user_id', 'event_type',
  *     'ts', array('view','click','purchase'), 86400000000)
  * }}}
  * instead of reaching for the Scala API. Registered two ways:
  *  - at session build by [[graft.GraftExtensions]]
  *    (`injectTableFunction` — the public extension seam);
  *  - at runtime by `Engine.init` for conf-only sessions (the
  *    table-function registry is session state, reached through the
  *    same `private[sql]` bridge as the width sampler).
  *
  * The builders generalize the oracled queries (steps, cohort event,
  * day offset, column names are parameters) and the fixed-parameter
  * oracle rows delegate to them, so the SQL surface and the §2B
  * contract can never drift apart.
  *
  * TVF arguments must be literals (Spark resolves table functions
  * during analysis, before any data exists to evaluate non-constant
  * expressions); violations raise a clear per-argument error.
  * Working column names `_u/_et/_us/_d/_v/_tie` are reserved inside
  * the builders — inputs are renamed into them immediately, so only
  * the named input columns themselves are constrained.
  */
object EventAnalytics {

  /** Ordered-step funnel over an event frame: per user,
    * t1 = min step-1 time, then t_k = min step-k time in
    * (t_{k−1}, t_{k−1} + `horizonUs`] — steps strictly ordered,
    * first-qualifying time per step. Output: ONE row of cumulative
    * counts `n_<s1>`, `n_<s1>_<s2>`, … (users reaching each step) —
    * `q_funnel`'s row for (view, click, purchase) at 24 h, which
    * delegates here.
    *
    * One pass: a single user-keyed aggregation takes the min step-1
    * time and a `collect_list` of each later step's times, a per-row
    * fold derives t2..tN from those lists, and one global aggregate
    * counts the non-null t_k. The plan is one user-keyed exchange
    * plus the 1-row final aggregate — no join, no cache, and no
    * Spark job runs until the caller's action. Per-user state is the
    * user's step-2..N timestamps, 8 bytes each, held for the whole
    * input: a batch has no horizon to evict against. (The streaming
    * twin [[StreamzStateOps.funnelStream]] instead evicts a candidate
    * once it lies past t1 + H (step 2) or t1 + 2H (step 3), or at or
    * below min(t1, watermark), so its state is bounded by the events
    * inside a 2H horizon.)
    *
    * A null user key forms its own step-1 group, but never reaches
    * step 2: the reference SQL (`q_funnel`'s oracle) joins later
    * steps on the user key, and a null key never joins. */
  def funnelDf(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], horizonUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    val ev = events.select(col(userCol).as("_u"), col(typeCol).as("_et"),
      unix_micros(col(tsCol)).as("_us"))
      .filter(col("_et").isin(steps.distinct: _*))
    def timesOf(k: Int) = when(col("_et") === steps(k), col("_us"))
    val perUser = ev.groupBy(col("_u")).agg(min(timesOf(0)).as("_t0"),
      steps.indices.tail.map(k => collect_list(timesOf(k)).as(s"_c$k")): _*)
    val folded = steps.indices.tail.foldLeft(perUser) { (df, k) =>
      val prev = if (k == 1) when(col("_u").isNotNull, col("_t0")) else col(s"_t${k - 1}")
      df.withColumn(s"_t$k", array_min(
        filter(col(s"_c$k"), x => x > prev && x <= prev + horizonUs)))
    }
    val counts = steps.indices.map(k =>
      count(col(s"_t$k")).as("n_" + steps.take(k + 1).mkString("_")))
    folded.agg(counts.head, counts.tail: _*)
  }

  /** Cohort retention: users cohorted by FIRST `cohortEvent` date;
    * per cohort, how many were active (any event) exactly
    * `dayOffset` days later. Output (cohort_date, n_users,
    * retained_d<offset>) — `q_cohort_retention` at (purchase, 7). */
  def cohortRetentionDf(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, cohortEvent: String, dayOffset: Int): DataFrame =
    cohortMatrixDf(events, userCol, typeCol, tsCol, cohortEvent, Seq(dayOffset))

  /** The retention MATRIX: one `retained_d<k>` column per offset in
    * `dayOffsets`, same single pass — the curve a retention dashboard
    * plots (d1/d7/d14/d30…), at the cost of ONE query instead of one
    * per offset. Per-user conditional maxes all fold into the same
    * two aggregations as the single-offset row, so the plan shape
    * (two user-keyed exchanges, everything partial-merged) does not
    * change with the number of offsets. */
  def cohortMatrixDf(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, cohortEvent: String, dayOffsets: Seq[Int]): DataFrame = {
    require(dayOffsets.nonEmpty, "need at least one day offset")
    require(dayOffsets.distinct == dayOffsets, s"duplicate offsets: $dayOffsets")
    val ev = events.select(col(userCol).as("_u"), col(typeCol).as("_et"),
      col(tsCol).as("_ts"))
    val firsts = ev.filter(col("_et") === cohortEvent)
      .groupBy(col("_u")).agg(min(to_date(col("_ts"))).as("cohort_date"))
    val activity = ev.select(col("_u"), to_date(col("_ts")).as("_d")).distinct()
    val perUser = dayOffsets.map(k =>
      max(when(col("_d") === date_add(col("cohort_date"), k), 1).otherwise(0))
        .as(s"_a$k"))
    val perCohort = count(lit(1)).as("n_users") +: dayOffsets.map(k =>
      sum(col(s"_a$k")).cast("bigint").as(s"retained_d$k"))
    firsts.join(activity, "_u")
      .groupBy(col("cohort_date"), col("_u"))
      .agg(perUser.head, perUser.tail: _*)
      .groupBy(col("cohort_date"))
      .agg(perCohort.head, perCohort.tail: _*)
      .orderBy("cohort_date")
  }

  /** Time-weighted average of `valueCol` per (user, UTC day); weight
    * = whole seconds until the user's next same-day event, the day's
    * last reading carries no interval (contract), ties broken by
    * `tieBreakCol`. Exact decimal(18,2) × integer-seconds arithmetic
    * with one double division + round(6) at the edge — `q_twap`'s
    * row at (user_id, ts, value, event_id). Output
    * (<userCol>, d, twap, total_secs). */
  def twapDf(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(col("_u"), col("_d"))
      .orderBy(col("_us"), col("_tie"))
    events
      .select(col(userCol).as("_u"), col(tieBreakCol).as("_tie"),
        to_date(col(tsCol)).as("_d"), unix_micros(col(tsCol)).as("_us"),
        round(col(valueCol), 2).cast("decimal(18,2)").as("_v"))
      .withColumn("_next_us", lead(col("_us"), 1).over(w))
      .filter(col("_next_us").isNotNull)
      .withColumn("_dt", expr("(_next_us - _us) div 1000000"))
      .groupBy(col("_u"), col("_d"))
      .agg(
        round(sum(col("_v") * col("_dt")).cast("double") /
          sum(col("_dt")).cast("double"), 6).as("twap"),
        sum(col("_dt")).cast("bigint").as("total_secs"))
      .filter(col("total_secs") > 0)
      .select(col("_u").as(userCol), col("_d").as("d"),
        col("twap"), col("total_secs"))
      .orderBy(userCol, "d")
  }

  /** Time-series gap fill with forward carry: per user, the day's
    * LAST `valueCol` reading (by time + tiebreak) over the user's
    * [first_day, last_day] span; missing days carry the last value
    * with is_observed = 0. The span explode is bounded per user —
    * never a calendar cross-join. Output
    * (<userCol>, d, v_filled: double, is_observed) — `q_gapfill`'s
    * rows at (user_id, ts, value, event_id). */
  def gapfillDf(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, tieBreakCol: String): DataFrame = {
    val daily = events
      .select(col(userCol).as("_u"), to_date(col(tsCol)).as("_d"),
        unix_micros(col(tsCol)).as("_us"), col(tieBreakCol).as("_tie"),
        round(col(valueCol), 2).cast("decimal(18,2)").as("_v"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_u"), col("_d"))
          .orderBy(col("_us").desc, col("_tie").desc)))
      .filter(col("_rn") === 1)
      .select(col("_u"), col("_d"), col("_v"))
    val days = daily.groupBy(col("_u"))
      .agg(min(col("_d")).as("_mind"), max(col("_d")).as("_maxd"))
      .select(col("_u"),
        explode(expr("sequence(_mind, _maxd, interval 1 day)")).as("_d"))
    days.join(daily, Seq("_u", "_d"), "left")
      .select(col("_u").as(userCol), col("_d").as("d"),
        // double cast at the edge (§2.5.1): carried values are exact
        // 2-decimal copies, exactly representable
        last(col("_v"), ignoreNulls = true).over(
          Window.partitionBy(col("_u")).orderBy(col("_d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("v_filled"),
        when(col("_v").isNull, 0L).otherwise(1L).as("is_observed"))
      .orderBy(userCol, "d")
  }

  /** Gaps-and-islands sessionization: per `userCol`, events more than
    * `gapUs` µs apart start a new session; output one row per session
    * with start/end/count, session ids numbered 1..n per user in time
    * order (ties broken by `tieBreakCol`). Both window passes (lag +
    * running sum) share ONE (user) exchange, and the groupBy reuses
    * the same keys — `q_sessionize_gap`'s rows at
    * (user_id, ts_sec, event_id, 30 min). Output
    * (<userCol>, session_id, session_start, session_end, n_events). */
  def sessionizeDf(events: DataFrame, userCol: String, tsCol: String,
      tieBreakCol: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("_u")).orderBy(col("_us"), col("_tie"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(userCol).as("_u"), col(tieBreakCol).as("_tie"),
        col(tsCol).as("_ts"), unix_micros(col(tsCol)).as("_us"))
      .withColumn("_prev", lag(col("_us"), 1).over(w))
      .withColumn("_new",
        (col("_prev").isNull || col("_us") - col("_prev") > gapUs).cast("int"))
      .withColumn("session_id", sum(col("_new")).over(run))
      .groupBy(col("_u"), col("session_id"))
      .agg(min(col("_ts")).as("session_start"),
        max(col("_ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("_u").as(userCol), col("session_id"),
        col("session_start"), col("session_end"), col("n_events"))
      .orderBy(userCol, "session_id")
  }

  // --- SQL table-function surface ----------------------------------------

  type Desc = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => LogicalPlan)

  private def fail(fn: String, i: Int, what: String, must: String): Nothing =
    throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} ($what) must be $must")

  private def strArg(fn: String, args: Seq[Expression], i: Int,
      what: String): String = {
    val e = args(i)
    if (!e.foldable || e.dataType != StringType) fail(fn, i, what, "a string literal")
    Option(e.eval()).map(_.toString)
      .getOrElse(fail(fn, i, what, "a non-null string literal"))
  }

  private def longArg(fn: String, args: Seq[Expression], i: Int,
      what: String): Long = {
    val e = args(i)
    e.dataType match {
      case LongType | IntegerType | ShortType | ByteType if e.foldable =>
        Option(e.eval()).map(_.asInstanceOf[Number].longValue)
          .getOrElse(fail(fn, i, what, "a non-null integer literal"))
      case _ => fail(fn, i, what, "an integer literal")
    }
  }

  /** [[longArg]] narrowed to Int: an out-of-range literal is
    * rejected, never wrapped (4294967303 is not day 7). */
  private def intArg(fn: String, args: Seq[Expression], i: Int,
      what: String): Int = {
    val v = longArg(fn, args, i, what)
    if (!v.isValidInt) fail(fn, i, what, s"an integer literal in the Int range, got $v")
    v.toInt
  }

  private def strSeqArg(fn: String, args: Seq[Expression], i: Int,
      what: String): Seq[String] = {
    val e = args(i)
    e.dataType match {
      case ArrayType(StringType, _) if e.foldable =>
        Option(e.eval()).map(_.asInstanceOf[ArrayData].toObjectArray(StringType)
          .map(v => if (v == null) fail(fn, i, what, "an array of non-null strings")
            else v.toString).toSeq)
          .getOrElse(fail(fn, i, what, "a non-null array of string literals"))
      case _ => fail(fn, i, what, "an array of string literals, e.g. array('view','click')")
    }
  }

  private def intSeqArg(fn: String, args: Seq[Expression], i: Int,
      what: String): Seq[Int] = {
    val e = args(i)
    e.dataType match {
      case ArrayType(t @ (LongType | IntegerType | ShortType | ByteType), _)
          if e.foldable =>
        Option(e.eval()).map(_.asInstanceOf[ArrayData].toObjectArray(t)
          .map {
            case null => fail(fn, i, what, "an array of non-null integers")
            case v: Number if v.longValue.isValidInt => v.intValue
            case v => fail(fn, i, what, s"an array of integers in the Int range, got $v")
          }.toSeq)
          .getOrElse(fail(fn, i, what, "a non-null array of integer literals"))
      case _ => fail(fn, i, what, "an array of integer literals, e.g. array(1, 7, 14)")
    }
  }

  private def arity(fn: String, args: Seq[Expression], n: Int, sig: String): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments: $fn($sig); got ${args.length}")

  private def desc(name: String)(build: Seq[Expression] => DataFrame): Desc =
    (FunctionIdentifier(name),
      new ExpressionInfo(EventAnalytics.getClass.getCanonicalName, null, name),
      // .logical, not .analyzed: the plan re-analyzes inside the
      // calling query, so the named table resolves against the
      // CALLER's catalog state (temp views included) like any FROM
      (args: Seq[Expression]) => build(args).queryExecution.logical)

  /** The injectable/registrable descriptions. Table name is the
    * first argument — resolved through the calling session's
    * catalog, so temp views, `Engine.init` views, and catalog tables
    * all work. */
  val descriptions: Seq[Desc] = Seq(
    desc("graft_funnel") { args =>
      val fn = "graft_funnel"
      arity(fn, args, 6, "table, user_col, type_col, ts_col, steps_array, horizon_us")
      funnelDf(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "user_col"), strArg(fn, args, 2, "type_col"),
        strArg(fn, args, 3, "ts_col"), strSeqArg(fn, args, 4, "steps_array"),
        longArg(fn, args, 5, "horizon_us"))
    },
    desc("graft_cohort_retention") { args =>
      val fn = "graft_cohort_retention"
      arity(fn, args, 6, "table, user_col, type_col, ts_col, cohort_event, day_offset")
      cohortRetentionDf(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "user_col"), strArg(fn, args, 2, "type_col"),
        strArg(fn, args, 3, "ts_col"), strArg(fn, args, 4, "cohort_event"),
        intArg(fn, args, 5, "day_offset"))
    },
    desc("graft_twap") { args =>
      val fn = "graft_twap"
      arity(fn, args, 5, "table, user_col, ts_col, value_col, tiebreak_col")
      twapDf(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "user_col"), strArg(fn, args, 2, "ts_col"),
        strArg(fn, args, 3, "value_col"), strArg(fn, args, 4, "tiebreak_col"))
    },
    desc("graft_gapfill") { args =>
      val fn = "graft_gapfill"
      arity(fn, args, 5, "table, user_col, ts_col, value_col, tiebreak_col")
      gapfillDf(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "user_col"), strArg(fn, args, 2, "ts_col"),
        strArg(fn, args, 3, "value_col"), strArg(fn, args, 4, "tiebreak_col"))
    },
    desc("graft_cohort_matrix") { args =>
      val fn = "graft_cohort_matrix"
      arity(fn, args, 6, "table, user_col, type_col, ts_col, cohort_event, day_offsets_array")
      cohortMatrixDf(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "user_col"), strArg(fn, args, 2, "type_col"),
        strArg(fn, args, 3, "ts_col"), strArg(fn, args, 4, "cohort_event"),
        intSeqArg(fn, args, 5, "day_offsets_array"))
    },
    desc("graft_sessionize") { args =>
      val fn = "graft_sessionize"
      arity(fn, args, 5, "table, user_col, ts_col, tiebreak_col, gap_us")
      sessionizeDf(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "user_col"), strArg(fn, args, 2, "ts_col"),
        strArg(fn, args, 3, "tiebreak_col"), longArg(fn, args, 4, "gap_us"))
    },
    desc("graft_pii_scrub") { args =>
      val fn = "graft_pii_scrub"
      arity(fn, args, 2, "table, text_col")
      PiiScrub.scrub(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "text_col"))
    },
    // SQL surface for duplicate-passage detection (§2B #128): maximal
    // per-doc spans of k-word shingles shared by >= 2 documents.
    // Delegates to api/DupSpans.dupSpans (one-implementation rule).
    desc("graft_dup_spans") { args =>
      val fn = "graft_dup_spans"
      arity(fn, args, 4, "table, id_col, text_col, k")
      DupSpans.dupSpans(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "id_col"), strArg(fn, args, 2, "text_col"),
        intArg(fn, args, 3, "k"))
    },
    // write-path companion of graft_dup_spans (§2B #131): re-emit the
    // corpus with every duplicated k-shingle span excised.
    desc("graft_clean_corpus") { args =>
      val fn = "graft_clean_corpus"
      arity(fn, args, 4, "table, id_col, text_col, k")
      DupSpans.cleanCorpus(SparkSession.active.table(strArg(fn, args, 0, "table")),
        strArg(fn, args, 1, "id_col"), strArg(fn, args, 2, "text_col"),
        intArg(fn, args, 3, "k"))
    },
    // SQL surface for the engine's flagship ANN capability (VERDICT
    // r11 missing #3): probe a persisted IVF index straight from SQL,
    // in either cell encoding (Flat or PQ — read from the index's
    // meta). Delegates to IvfIndex.query (one-implementation rule) —
    // same probe pruning, ADC shortlist, exact re-rank. query_table
    // needs (qid|vec_id, embedding); returns (qid, rn, nid, cos_sim).
    desc("graft_ann_topk") { args =>
      val fn = "graft_ann_topk"
      if (args.length < 3 || args.length > 4) throw new IllegalArgumentException(
        s"$fn expects $fn(query_table, index_dir, k[, nprobe]); got ${args.length}")
      val qt = SparkSession.active.table(strArg(fn, args, 0, "query_table"))
      val idCol =
        if (qt.columns.contains("qid")) "qid"
        else if (qt.columns.contains("vec_id")) "vec_id"
        else fail(fn, 0, "query_table", "a table with a qid or vec_id column")
      IvfIndex.query(SparkSession.active,
        qt.select(col(idCol).cast("long").as("qid"), col("embedding")),
        strArg(fn, args, 1, "index_dir"),
        nProbe = if (args.length >= 4) intArg(fn, args, 3, "nprobe") else 4,
        topK = intArg(fn, args, 2, "k"))
    },
    desc("graft_profile") { args =>
      val fn = "graft_profile"
      if (args.isEmpty || args.length > 2) throw new IllegalArgumentException(
        s"$fn expects $fn(table[, exact_boolean]); got ${args.length} arguments")
      val exact = if (args.length < 2) true else args(1) match {
        case e if e.foldable && e.dataType == BooleanType =>
          Option(e.eval()).map(_.asInstanceOf[Boolean])
            .getOrElse(fail(fn, 1, "exact", "a non-null boolean literal"))
        case _ => fail(fn, 1, "exact",
          "a boolean literal (true = exact distincts, false = HLL approx)")
      }
      Profiling.profile(SparkSession.active.table(strArg(fn, args, 0, "table")),
        exact = exact)
    })

  /** Runtime registration for conf-only sessions (extension-built
    * sessions get the same functions injected at build). Idempotent —
    * re-registration overwrites with identical builders. */
  def registerTableFunctions(spark: SparkSession): Unit =
    descriptions.foreach { case (ident, info, builder) =>
      org.apache.spark.sql.graft.TableFunctionReg.register(spark, ident, info, builder)
    }
}
