package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** STREAMING analogs of the StreamzOps ops that are batch-only there
  * (accumulate / sliding_window use global or non-time windows that
  * Structured Streaming rejects — see StreamzOps's scaladoc), plus the
  * stateful live forms of batch rows (top-k, twap, cohort, funnel,
  * gapfill, retraction). Every operator here is a per-key fold on
  * Spark 4's arbitrary-state API: `transformWithState` with a
  * `StatefulProcessor` whose state lives in NAMED, individually-typed
  * slots (ValueState / ListState / MapState, each with its own TTL)
  * plus registered event-time timers, keyed by the stream key and
  * checkpointed with the query.
  *
  * State store: Spark runs `transformWithState` only on the RocksDB
  * provider, so set `spark.sql.streaming.stateStore.providerClass` to
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * before starting any query built from this object.
  *
  * Ordering contract: within one micro-batch, rows of a key are folded
  * in ascending `ord` order (sorted here — group iterators carry no
  * order guarantee); ACROSS micro-batches the caller must deliver a
  * key's rows in non-decreasing `ord` order, which is exactly the
  * per-key ordering the CDC source guarantees (key-hash partitions,
  * seq-sorted — PgCdcSimSource) and any replication protocol provides.
  * Out-of-order delivery across batches folds in arrival order, the
  * same behavior as the push-based reference.
  *
  * Shapes are pinned to (key: Long, ord: Long, value: Double) — the
  * CDC envelope's natural projection. A production library would
  * derive these via Encoders from the caller's types; fixed primitives
  * keep the state schema stable across restarts here.
  */
object StreamzStateOps {

  // not private: Catalyst's generated (de)serializers must access them
  case class KOV(key: Long, ord: Long, value: Double)
  case class AccOut(key: Long, ord: Long, value: Double, acc: Double)
  case class WinOut(key: Long, ord: Long, value: Double, win: Seq[Double])

  /** streamz `accumulate(fn=+, start)` on a STREAM: running per-key
    * sum, one output row per input row, state = the fold value.
    * Input df (streaming or batch) must have columns (keyCol, ordCol,
    * valueCol), castable to (long, long, double).
    */
  def accumulateStream(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    implicit val kovEnc = Encoders.product[KOV]
    implicit val outEnc = Encoders.product[AccOut]
    implicit val keyEnc = Encoders.scalaLong
    val typed: Dataset[KOV] = df.select(
      col(keyCol).cast("long").as("key"),
      col(ordCol).cast("long").as("ord"),
      col(valueCol).cast("double").as("value")).as[KOV]
    typed.groupByKey(_.key)
      .transformWithState(new RunningSumProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF("key", "ord", "value", "acc")
  }

  /** The accumulate fold as a Spark 4 StatefulProcessor: the running
    * sum lives in a named ValueState slot, created in init() and
    * rehydrated per key by the store. */
  class RunningSumProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KOV, AccOut] {
    @transient private var sum: org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sum = getHandle.getValueState[Double]("sum", Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KOV],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[AccOut] = {
      var acc = if (sum.exists()) sum.get() else 0.0
      val out = rows.toSeq.sortBy(_.ord).map { r =>
        acc += r.value
        AccOut(key, r.ord, r.value, acc)
      }
      sum.update(acc)
      out.iterator
    }
  }

  // not private: Catalyst's generated (de)serializers must access them
  case class GroupedItem(group: String, item: String)
  case class TopKOut(group: String, rank: Int, item: String, cnt: Long)

  /** STREAMING grouped frequent-items: q_text_topk_words' Misra–Gries
    * sketch (functions.FrequentItems) held as per-group state. Each
    * trigger folds the batch's items into the group's sketch with the
    * SAME `reduce` the batch Aggregator uses, then re-emits that
    * group's current top-`k` (Update semantics — only groups touched
    * by the batch emit).
    *
    * Inherited MG guarantees, now per UNBOUNDED stream key: state
    * bounded at `capacity` counters per group whatever the vocabulary;
    * estimates never overcount; undercount ≤ N/(capacity+1); and when
    * a group's distinct-item count stays ≤ capacity the stream's final
    * top-k EQUALS the batch query's on the same input — including
    * across a checkpoint restart, because the sketch is the state
    * (StreamingSuite proves both).
    */
  def topKStream(df: DataFrame, k: Int, capacity: Int, groupCol: String,
      itemCol: String): DataFrame = {
    require(k > 0 && capacity > 0, s"need k > 0, capacity > 0 (got $k, $capacity)")
    implicit val inEnc = Encoders.product[GroupedItem]
    implicit val outEnc = Encoders.product[TopKOut]
    implicit val keyEnc = Encoders.STRING
    val typed: Dataset[GroupedItem] = df.select(
      col(groupCol).cast("string").as("group"),
      col(itemCol).cast("string").as("item")).as[GroupedItem]
    typed.groupByKey(_.group)
      .transformWithState(new TopKProcessor(k, capacity),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("group", "rank", "item", "cnt")
  }

  /** The MG sketch in a named `MapState[String, Long]` slot — one
    * store ENTRY per counter, so a trigger that touches 3 of
    * `capacity` counters rewrites 3 entries, not the whole sketch.
    * [[TopKProcessor]] and [[TopKExpiringProcessor]] differ only in
    * their input row type and what they do around [[foldAndEmit]]. */
  abstract class SketchProcessor[I](k: Int, capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, I, TopKOut] {
    @transient protected var sketch:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    private val mg = new graft.functions.FrequentItems(capacity)
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sketch = getHandle.getMapState[String, Long]("sketch",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    /** Fold the batch into the stored sketch; write back only the
      * DELTA (changed/new counters updated, dead ones removed) —
      * the point of the per-entry MapState layout. Returns top-k. */
    protected def foldAndEmit(group: String,
        items: Iterator[String]): Iterator[TopKOut] = {
      val before = sketch.iterator().toMap
      val after = items.foldLeft(before)((buf, w) => mg.reduce(buf, w))
      (before.keySet -- after.keySet).foreach(sketch.removeKey)
      after.foreach { case (w, c) =>
        if (!before.get(w).contains(c)) sketch.updateValue(w, c)
      }
      after.toSeq.sortBy { case (w, c) => (-c, w) }.take(k)
        .zipWithIndex.map { case ((w, c), i) => TopKOut(group, i + 1, w, c) }
        .iterator
    }
  }

  class TopKProcessor(k: Int, capacity: Int)
      extends SketchProcessor[GroupedItem](k, capacity) {
    override def handleInputRows(group: String, rows: Iterator[GroupedItem],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TopKOut] =
      foldAndEmit(group, rows.map(_.item))
  }

  // not private: Catalyst's generated (de)serializers must access it
  case class GroupedItemTs(group: String, item: String, ts: java.sql.Timestamp)

  /** [[topKStream]] with EVENT-TIME TTL eviction — the variant for an
    * UNBOUNDED group space (per-user / per-domain trending items),
    * where even capacity-bounded sketches accumulate without bound
    * across groups. `df` must carry a watermarked timestamp column
    * (`withWatermark(tsCol, ...)` upstream): a group idle for `ttlMs`
    * past its newest event (vs the stream watermark) has its sketch
    * evicted, so total state is bounded by ACTIVE groups × capacity.
    * Deterministic: eviction rides the watermark, not wall clock.
    */
  def topKStreamExpiring(df: DataFrame, k: Int, capacity: Int,
      groupCol: String, itemCol: String, tsCol: String,
      ttlMs: Long): DataFrame = {
    require(k > 0 && capacity > 0 && ttlMs > 0,
      s"need k, capacity, ttlMs > 0 (got $k, $capacity, $ttlMs)")
    implicit val inEnc = Encoders.product[GroupedItemTs]
    implicit val outEnc = Encoders.product[TopKOut]
    implicit val keyEnc = Encoders.STRING
    val typed: Dataset[GroupedItemTs] = df.select(
      col(groupCol).cast("string").as("group"),
      col(itemCol).cast("string").as("item"),
      // no cast: a cast would mint a fresh attribute WITHOUT the
      // upstream watermark tag, and event-time timers require it
      col(tsCol).as("ts")).as[GroupedItemTs]
    typed.groupByKey(_.group)
      .transformWithState(new TopKExpiringProcessor(k, capacity, ttlMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
      .toDF("group", "rank", "item", "cnt")
  }

  /** [[SketchProcessor]]'s fold plus event-time TTL: `maxTs` rides its
    * own ValueState slot, and eviction is a registered timer at
    * maxTs + ttl, re-armed per batch. */
  class TopKExpiringProcessor(k: Int, capacity: Int, ttlMs: Long)
      extends SketchProcessor[GroupedItemTs](k, capacity) {
    @transient private var maxTs:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      super.init(outputMode, timeMode)
      maxTs = getHandle.getValueState[Long]("maxTs", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(group: String, rows: Iterator[GroupedItemTs],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TopKOut] = {
      val rs = rows.toSeq
      // deadline = all-time max event ts + ttl: an admissible
      // out-of-order row must not move it backwards. One live timer
      // per group — delete the previous deadline before re-arming.
      val prevMax = if (maxTs.exists()) Some(maxTs.get()) else None
      val newMax = math.max(prevMax.getOrElse(Long.MinValue),
        rs.map(_.ts.getTime).max)
      if (!prevMax.contains(newMax)) {
        prevMax.foreach(m => getHandle.deleteTimer(m + ttlMs))
        getHandle.registerTimer(newMax + ttlMs)
        maxTs.update(newMax)
      }
      foldAndEmit(group, rs.iterator.map(_.item))
    }
    override def handleExpiredTimer(group: String,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TopKOut] = {
      sketch.clear(); maxTs.clear() // a returning group restarts cold
      Iterator.empty
    }
  }

  /** streamz `sliding_window(n)` on a STREAM: per key, the last n
    * values (oldest→newest, ≤ n while warming up) emitted per row as
    * an array column `win` — callers aggregate it with
    * `aggregate(win, ...)` / `array_max` etc. State = the ring of the
    * last n values.
    */
  def slidingWindowStream(df: DataFrame, n: Int, keyCol: String,
      ordCol: String, valueCol: String): DataFrame = {
    require(n > 0, s"sliding window size must be > 0 (got $n)")
    implicit val kovEnc = Encoders.product[KOV]
    implicit val outEnc = Encoders.product[WinOut]
    implicit val keyEnc = Encoders.scalaLong
    val typed: Dataset[KOV] = df.select(
      col(keyCol).cast("long").as("key"),
      col(ordCol).cast("long").as("ord"),
      col(valueCol).cast("double").as("value")).as[KOV]
    typed.groupByKey(_.key)
      .transformWithState(new SlidingRingProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF("key", "ord", "value", "win")
  }

  /** Last-n ring in a named ListState slot: read once per batch, fold
    * the batch in ord order emitting the ring per row, put back the
    * trimmed tail. */
  class SlidingRingProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KOV, WinOut] {
    @transient private var ringState:
      org.apache.spark.sql.streaming.ListState[Double] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      ringState = getHandle.getListState[Double]("ring", Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KOV],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[WinOut] = {
      var ring: List[Double] = if (ringState.exists()) ringState.get().toList else Nil
      val out = rows.toSeq.sortBy(_.ord).map { r =>
        ring = (ring :+ r.value).takeRight(n)
        WinOut(key, r.ord, r.value, ring)
      }
      ringState.put(ring.toArray)
      out.iterator
    }
  }

  // not private: Catalyst's generated (de)serializers must access them
  case class TwapKey(user: Long, epochDay: Long)
  case class TwapReading(user: Long, ord: Long, ts: java.sql.Timestamp, v: Double)
  case class TwapOut(user_id: Long, d: java.sql.Date, twap: Double, total_secs: Long)

  /** STREAMING time-weighted average — the live version of batch
    * `q_twap` (#108): per (user, day), each reading weighted by the
    * whole seconds until the user's next same-day reading; the day's
    * last reading carries no interval (same contract as the batch
    * row). Emits the key's current (twap, total_secs) every
    * micro-batch it is active in, once it has ≥ 2 readings (a
    * single-reading day has no interval — batch drops it via
    * HAVING sum(dt) > 0).
    *
    * Exactness under out-of-order arrival needs the day's readings
    * retained, not a running pair: a late reading lands BETWEEN two
    * already-seen readings and splits their interval. State per
    * (user, day) = the day's readings in a ListState — naturally
    * bounded by one key's daily volume, the same bound the batch
    * window partition holds, and day-scoped keys go idle after one
    * day + allowed lateness (pass `ttl` to reap them; event-time
    * exactness is unaffected because a reaped key is one the
    * watermark already sealed).
    *
    * Arithmetic mirrors the batch row exactly: value rounds to cents
    * (decimal(18,2) ≡ integer cents), dt is integer seconds, the
    * weighted sum is exact integer arithmetic, one double division +
    * round(6) at the edge — so streamed == batch bit-for-bit.
    * `ordCol` is the batch window's tie-break (event_id): a tied
    * timestamp contributes dt = 0 itself, but the tie ORDER decides
    * which value carries the FOLLOWING interval, so the stream must
    * sort by the same (ts, ord) the batch window does — µs-only
    * sorting would make same-µs readings arrival-order-dependent.
    */
  def twapStream(df: DataFrame, userCol: String, ordCol: String, tsCol: String,
      valueCol: String, ttl: Option[java.time.Duration] = None): DataFrame = {
    implicit val inEnc = Encoders.product[TwapReading]
    implicit val outEnc = Encoders.product[TwapOut]
    implicit val keyEnc = Encoders.product[TwapKey]
    val typed: Dataset[TwapReading] = df.select(
      col(userCol).cast("long").as("user"),
      col(ordCol).cast("long").as("ord"),
      // no cast on ts: keep the upstream watermark tag
      col(tsCol).as("ts"),
      col(valueCol).cast("double").as("v")).as[TwapReading]
    typed.groupByKey { r =>
      val i = r.ts.toInstant
      val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
      TwapKey(r.user, us / 86400000000L) // UTC day, matches to_date under the UTC session
    }.transformWithState(new TwapProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
      .toDF("user_id", "d", "twap", "total_secs")
  }

  /** [[twapStream]]'s state: the day's (µs, cents) readings in one
    * ListState slot; fold from scratch per batch (day-volume-bounded,
    * exactly the batch window's working set). */
  class TwapProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[TwapKey, TwapReading, TwapOut] {
    @transient private var readings:
      org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val cfg = ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
        .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE)
      readings = getHandle.getListState[(Long, Long, Long)]("readings",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong), cfg)
    }
    override def handleInputRows(key: TwapKey, rows: Iterator[TwapReading],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TwapOut] = {
      val fresh = rows.map { r =>
        val i = r.ts.toInstant
        // cents ≡ the batch row's round(value, 2) cast decimal(18,2):
        // BigDecimal.decimal + HALF_UP is exactly Catalyst's Round on
        // DoubleType (math.round would differ on negative .xx5 values)
        (i.getEpochSecond * 1000000L + i.getNano / 1000L, r.ord,
          (BigDecimal.decimal(r.v)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong)
      }.toSeq
      // (us, ord) = the batch window's exact ordering: a same-µs tie
      // contributes dt = 0 itself but decides who carries the NEXT
      // interval, so the tiebreak must match the batch lead()
      val all = (readings.get().toSeq ++ fresh).sortBy(r => (r._1, r._2))
      if (all.nonEmpty) readings.put(all.toArray)
      var sumCentsDt = 0L
      var sumDt = 0L
      var k = 0
      while (k < all.length - 1) {
        val dt = (all(k + 1)._1 - all(k)._1) / 1000000L // whole seconds, like `div`
        sumCentsDt += all(k)._3 * dt
        sumDt += dt
        k += 1
      }
      if (sumDt <= 0) Iterator.empty
      else {
        // same edge arithmetic as the batch row: exact integer sums,
        // one double division, round(6)
        val twap = BigDecimal(sumCentsDt.toDouble / 100.0 / sumDt.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        Iterator.single(TwapOut(key.user,
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(key.epochDay)),
          twap, sumDt))
      }
    }
  }

  // not private: Catalyst's generated (de)serializers must access them
  case class CohortEvt(user: Long, isCohortEvent: Boolean, ts: java.sql.Timestamp)
  case class CohortOut(user_id: Long, cohort_date: java.sql.Date, active_d7: Int)

  /** STREAMING cohort retention, user level — the live feeder of
    * batch `q_cohort_retention` (#105): each user is cohorted by
    * their first cohort-event (first purchase) day and checked for
    * activity exactly 7 days later. Unlike [[funnelStream]] /
    * [[twapStream]] (Update-mode running statuses), this one emits
    * APPEND-once-per-user: a user's row is final only when the
    * watermark passes cohort_day + 8 days — no earlier first
    * purchase can arrive (the watermark would drop it) and no
    * day-7 activity can still be admissible — so finalization rides
    * an EVENT-TIME TIMER, re-armed downward if a late earlier
    * cohort event shifts the cohort. Aggregating the emitted rows by
    * cohort_date reproduces the batch row's (n_users, retained_d7)
    * for every sealed cohort (suite-pinned).
    *
    * State per user: the min cohort-event day (scalar) + the set of
    * activity days that could still be some possible final cohort's
    * day-7 target. A future cohort event is ≥ the watermark, so the
    * final cohort day lies in [wmDay, curCohortDay] and only
    * activity days in [wmDay+7, curCohortDay+7] are retained —
    * state is bounded by the allowed lateness, not the stream's
    * lifetime.
    */
  def cohortStream(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, cohortType: String,
      activityTtl: Option[java.time.Duration] = None): DataFrame = {
    implicit val inEnc = Encoders.product[CohortEvt]
    implicit val outEnc = Encoders.product[CohortOut]
    implicit val keyEnc = Encoders.scalaLong
    val typed: Dataset[CohortEvt] = df.select(
      col(userCol).cast("long").as("user"),
      // null-safe: a NULL event_type is "not the cohort event", not a
      // NULL that kills deserialization into the primitive Boolean
      (col(typeCol) <=> lit(cohortType)).as("isCohortEvent"),
      col(tsCol).as("ts")) // no cast: keep the watermark tag
      .as[CohortEvt]
    typed.groupByKey(_.user)
      .transformWithState(new CohortProcessor(activityTtl),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "cohort_date", "active_d7")
  }

  /** `activityTtl` reaps the candidate-activity set of users the
    * stream stops seeing BEFORE any cohort event (they have no timer
    * to clean them up — without a TTL that state lives forever on a
    * churn-heavy stream). A reaped-then-returning user rebuilds
    * activity from scratch, so set it comfortably above the allowed
    * lateness. The cohortDay slot deliberately takes NO TTL: it is
    * the finalized marker that keeps append-once true for users who
    * purchase again long after their cohort row emitted.
    */
  class CohortProcessor(activityTtl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CohortEvt, CohortOut] {
    private val DAY_MS = 86400000L
    @transient private var cohortDay:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var activeDays:
      org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      val actCfg = activityTtl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
        .getOrElse(none)
      cohortDay = getHandle.getValueState[Long]("cohortDay", Encoders.scalaLong, none)
      activeDays = getHandle.getListState[Long]("activeDays", Encoders.scalaLong, actCfg)
    }
    override def handleInputRows(user: Long, rows: Iterator[CohortEvt],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[CohortOut] = {
      val wmDay = tv.getCurrentWatermarkInMs() / DAY_MS
      val prev = if (cohortDay.exists()) Some(cohortDay.get()) else None
      var cohort = prev.getOrElse(Long.MaxValue)
      val newDays = scala.collection.mutable.Set.empty[Long]
      rows.foreach { e =>
        val d = e.ts.toInstant.toEpochMilli / DAY_MS
        if (e.isCohortEvent && d < cohort) cohort = d
        newDays += d
      }
      if (cohort == Long.MaxValue) {
        // no cohort event yet: retain candidate activity days (only
        // those a future cohort ≥ wmDay could still target)
        val keep = (activeDays.get().toSeq ++ newDays).distinct
          .filter(_ >= wmDay + 7)
        if (keep.nonEmpty) activeDays.put(keep.toArray) else activeDays.clear()
        Iterator.empty
      } else {
        // re-arm the finalization timer when the cohort day drops
        // (first sight, or a late earlier cohort event): one live
        // timer per user at (cohort + 8) days
        if (!prev.contains(cohort)) {
          prev.foreach(p => getHandle.deleteTimer((p + 8) * DAY_MS))
          getHandle.registerTimer((cohort + 8) * DAY_MS)
          cohortDay.update(cohort)
        }
        // possible final cohorts = [min(wmDay, cohort), cohort]: once
        // the watermark passes the cohort day the cohort is FROZEN
        // (an earlier cohort event would be dropped), so the bound
        // collapses to exactly cohort + 7
        val lo = math.min(wmDay, cohort) + 7
        val keep = (activeDays.get().toSeq ++ newDays).distinct
          .filter(d => d >= lo && d <= cohort + 7)
        if (keep.nonEmpty) activeDays.put(keep.toArray) else activeDays.clear()
        Iterator.empty
      }
    }
    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[CohortOut] = {
      val out = if (cohortDay.exists()) {
        val c = cohortDay.get()
        val hit = activeDays.get().contains(c + 7)
        Iterator.single(CohortOut(user,
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(c)),
          if (hit) 1 else 0))
      } else Iterator.empty
      // keep cohortDay: it is FROZEN (watermark passed it) and doubles
      // as the finalized marker — clearing it would let the user's
      // NEXT purchase re-cohort them and emit a second row, breaking
      // append-once (a user's cohort is their FIRST purchase, ever).
      // Post-finalization state is one long per user; activity days
      // all fall outside [*, cohort+7] from here on and stay empty.
      activeDays.clear()
      out
    }
  }

  // not private: Catalyst's generated (de)serializers must access them
  case class FunnelEvt(user: Long, step: Int, ts: java.sql.Timestamp)
  case class FunnelStatus(user: Long, t1: Option[Long],
      t2: Option[Long], t3: Option[Long])

  /** STREAMING ordered-step funnel — the live version of batch
    * `q_funnel` (#104): per user, t1 = min ts of step-1 events,
    * t2 = min step-2 ts in (t1, t1+H], t3 = min step-3 ts in
    * (t2, t2+H]. Emits the user's current (t1, t2, t3) status (epoch
    * µs, None = stage not reached) every micro-batch the user is
    * active in (Update semantics).
    *
    * Exactness under out-of-order arrival is what makes a streaming
    * funnel hard: a late, EARLIER step-1 event lowers t1, which can
    * make previously ineligible step-2 events eligible — so candidate
    * events must be retained, not just running minima. State per
    * user = minT1 scalar + the step-2/step-3 candidate lists, kept
    * EXACTLY as long as they could still matter:
    *  - a step-2 time c is gone for good once c > t1 + H (t1 only
    *    ever decreases, so the window never moves up past c), or once
    *    c ≤ min(t1, watermark) (eligibility needs c > t1_final, and
    *    t1_final ≥ min(current t1, watermark floor) because any
    *    future step-1 arrival below the watermark is dropped by the
    *    engine);
    *  - a step-3 time p bounds the same way against t1 + 2H (t2 ≤
    *    t1 + H always) and min(t1, watermark).
    * So per-user state is bounded by the events inside a 2H horizon —
    * the same bound a watermarked stream-stream interval join holds —
    * and is exact for any arrival order the watermark admits. The
    * caller must set `withWatermark` on `tsCol` upstream (EventTime
    * mode reads the watermark; with no watermark the floor is 0 and
    * nothing lower-evicts — still correct, just unbounded for
    * pathological out-of-order feeds).
    *
    * The StreamingSuite equivalence test delivers the events fixture
    * across micro-batches and checks the final per-user statuses
    * reproduce batch q_funnel's stage counts exactly.
    */
  def funnelStream(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], horizonUs: Long): DataFrame = {
    require(steps.length == 3, s"exactly 3 funnel steps (got ${steps.length})")
    require(horizonUs > 0, s"step horizon must be > 0 (got $horizonUs)")
    implicit val inEnc = Encoders.product[FunnelEvt]
    implicit val outEnc = Encoders.product[FunnelStatus]
    implicit val keyEnc = Encoders.scalaLong
    val stepNo = when(col(typeCol) === steps(0), 1)
      .when(col(typeCol) === steps(1), 2)
      .when(col(typeCol) === steps(2), 3)
    val typed: Dataset[FunnelEvt] = df
      .filter(stepNo.isNotNull)
      .select(col(userCol).cast("long").as("user"), stepNo.as("step"),
        // no cast: a cast would mint a fresh attribute WITHOUT the
        // upstream watermark tag EventTime mode needs
        col(tsCol).as("ts"))
      .as[FunnelEvt]
    typed.groupByKey(_.user)
      .transformWithState(new FunnelProcessor(horizonUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
      .toDF("user", "t1", "t2", "t3")
  }

  /** [[funnelStream]]'s state machine: minT1 in a ValueState slot,
    * step-2/3 candidate times in ListState slots, re-derive
    * (t1, t2, t3) from scratch per batch (candidate lists are
    * 2H-horizon-bounded, so the recompute is O(events in horizon)). */
  class FunnelProcessor(horizonUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelEvt, FunnelStatus] {
    @transient private var minT1:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var step2:
      org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var step3:
      org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttl = org.apache.spark.sql.streaming.TTLConfig.NONE
      minT1 = getHandle.getValueState[Long]("minT1", Encoders.scalaLong, ttl)
      step2 = getHandle.getListState[Long]("step2", Encoders.scalaLong, ttl)
      step3 = getHandle.getListState[Long]("step3", Encoders.scalaLong, ttl)
    }
    private def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant // getTime is ms-truncated; keep µs exact
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    override def handleInputRows(user: Long, rows: Iterator[FunnelEvt],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelStatus] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      var t1 = if (minT1.exists()) minT1.get() else Long.MaxValue
      val n2 = scala.collection.mutable.ArrayBuffer.empty[Long]
      val n3 = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.foreach { e =>
        val u = us(e.ts)
        e.step match {
          case 1 => if (u < t1) t1 = u
          case 2 => n2 += u
          case 3 => n3 += u
        }
      }
      if (t1 != Long.MaxValue) minT1.update(t1)
      val floor = math.min(t1, wmUs)
      val c2 = (step2.get().toSeq ++ n2).distinct
        .filter(c => c > floor && (t1 == Long.MaxValue || c <= t1 + horizonUs))
        .sorted
      val c3 = (step3.get().toSeq ++ n3).distinct
        .filter(p => p > floor && (t1 == Long.MaxValue || p <= t1 + 2 * horizonUs))
        .sorted
      val t2 = if (t1 == Long.MaxValue) None
        else c2.find(c => c > t1 && c <= t1 + horizonUs)
      val t3 = t2.flatMap(t => c3.find(p => p > t && p <= t + horizonUs))
      // the store rejects empty list writes — clear() is the empty put
      if (c2.nonEmpty) step2.put(c2.toArray) else step2.clear()
      if (c3.nonEmpty) step3.put(c3.toArray) else step3.clear()
      Iterator.single(FunnelStatus(user,
        if (t1 == Long.MaxValue) None else Some(t1), t2, t3))
    }
  }

  // not private: Catalyst's generated (de)serializers must access them
  case class GapReading(user: Long, ord: Long, ts: java.sql.Timestamp, v: Double)
  case class GapOut(user_id: Long, d: java.sql.Date, v_filled: Double,
      is_observed: Int)

  /** STREAMING gap fill — the live feeder of batch `q_gapfill`
    * (#115): per user, one APPEND-once row per day with the day's
    * last reading, missing days carried forward. A day D is emitted
    * exactly when it becomes FINAL, which needs all three of:
    *  - the watermark passed D's end ((D+1)·day ≤ wm): no admissible
    *    reading can change D's own pick;
    *  - some observed day ≥ D exists: the batch span is
    *    [first_day, last_day], so a trailing gap day is not a row
    *    until a later reading proves the span covers it;
    *  - every day < D is final (the carry value is settled) — free,
    *    because days emit in order through a per-user cursor.
    * Both frontiers move monotonically (watermark by contract; the
    * max observed day because a smaller late reading is dropped), so
    * the cursor never revisits — append-once like [[cohortStream]].
    *
    * State per user: the per-day best reading for UNSEALED days only
    * (MapState, drained as days seal — bounded by the allowed
    * lateness × reading days, the same horizon a watermarked
    * interval join holds), plus three scalars (cursor, carry cents,
    * max observed day). One event-time timer per user at the next
    * unsealed day boundary walks the cursor when the watermark
    * moves; an input batch drains too, because a new later reading
    * can unlock already-watermarked gap days (the span bound, not
    * the time bound, was the blocker).
    *
    * Money arithmetic matches the batch row exactly: readings
    * round to cents on ingest (BigDecimal HALF_UP ≡ Catalyst Round,
    * same as [[twapStream]]), carried days re-emit the same cents,
    * and cents/100.0 is exact in double — streamed v_filled ==
    * batch bit-for-bit. Caller sets `withWatermark(tsCol, …)`
    * upstream.
    */
  def gapfillStream(df: DataFrame, userCol: String, ordCol: String,
      tsCol: String, valueCol: String): DataFrame = {
    implicit val inEnc = Encoders.product[GapReading]
    implicit val outEnc = Encoders.product[GapOut]
    implicit val keyEnc = Encoders.scalaLong
    val typed: Dataset[GapReading] = df.select(
      col(userCol).cast("long").as("user"),
      col(ordCol).cast("long").as("ord"),
      col(tsCol).as("ts"), // no cast: keep the watermark tag
      col(valueCol).cast("double").as("v")).as[GapReading]
    typed.groupByKey(_.user)
      .transformWithState(new GapfillProcessor(),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "d", "v_filled", "is_observed")
  }

  class GapfillProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, GapReading, GapOut] {
    private val DAY_MS = 86400000L
    @transient private var best:
      org.apache.spark.sql.streaming.MapState[Long, (Long, Long, Long)] = _
    @transient private var cursor:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var carry:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var maxObs:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var armed:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val none = org.apache.spark.sql.streaming.TTLConfig.NONE
      best = getHandle.getMapState[Long, (Long, Long, Long)]("best",
        Encoders.scalaLong,
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        none)
      cursor = getHandle.getValueState[Long]("cursor", Encoders.scalaLong, none)
      carry = getHandle.getValueState[Long]("carry", Encoders.scalaLong, none)
      maxObs = getHandle.getValueState[Long]("maxObs", Encoders.scalaLong, none)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, none)
    }

    /** Emit every now-final day from the cursor forward; re-arm the
      * boundary timer for the next unsealed day still inside the
      * span. Idempotent — safe from both handlers. */
    private def drain(wmMs: Long): Iterator[GapOut] = {
      val mo = if (maxObs.exists()) maxObs.get() else return Iterator.empty
      var d = if (cursor.exists()) cursor.get()
        else {
          val keys = best.keys()
          if (!keys.hasNext) return Iterator.empty
          var m = Long.MaxValue
          keys.foreach(k => if (k < m) m = k)
          m // the first observed day: final at first seal (anything
            // earlier would be below the watermark by then)
        }
      val out = scala.collection.mutable.ArrayBuffer.empty[GapOut]
      while ((d + 1) * DAY_MS <= wmMs && d <= mo) {
        val cents = if (best.containsKey(d)) {
          val c = best.getValue(d)._3
          best.removeKey(d)
          carry.update(c)
          out += GapOut(0L, java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(d)), c / 100.0, 1)
          c
        } else {
          val c = carry.get() // cursor starts on an observed day, so
          out += GapOut(0L, java.sql.Date.valueOf( // carry is always set
            java.time.LocalDate.ofEpochDay(d)), c / 100.0, 0)
          c
        }
        d += 1
      }
      cursor.update(d)
      val want = if (d <= mo) (d + 1) * DAY_MS else -1L
      val have = if (armed.exists()) armed.get() else -1L
      if (have != want) {
        if (have >= 0) getHandle.deleteTimer(have)
        if (want >= 0) getHandle.registerTimer(want)
        if (want >= 0) armed.update(want) else armed.clear()
      }
      out.iterator
    }

    override def handleInputRows(user: Long, rows: Iterator[GapReading],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[GapOut] = {
      rows.foreach { r =>
        val i = r.ts.toInstant
        val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
        val d = us / 86400000000L
        // cents ≡ the batch row's round(value, 2): BigDecimal HALF_UP
        // is exactly Catalyst's Round on DoubleType
        val cents = (BigDecimal.decimal(r.v)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong
        // the day's LAST reading by (us, ord) — the batch row_number
        // DESC pick, so the tiebreak must match exactly
        val better = !best.containsKey(d) || {
          val (pu, po, _) = best.getValue(d)
          us > pu || (us == pu && r.ord > po)
        }
        if (better) best.updateValue(d, (us, r.ord, cents))
        if (!maxObs.exists() || d > maxObs.get()) maxObs.update(d)
      }
      drain(tv.getCurrentWatermarkInMs()).map(_.copy(user_id = user))
    }

    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[GapOut] = {
      // this timer just fired — it is no longer registered
      if (armed.exists() && armed.get() == info.getExpiryTimeInMs()) armed.clear()
      drain(tv.getCurrentWatermarkInMs()).map(_.copy(user_id = user))
    }
  }

  // not private: Catalyst's generated (de)serializers must access them
  case class CdcVer(key: Long, ord: Long, grp: String, cents: Long)
  case class LastVer(grp: String, cents: Long)
  case class AggDelta(grp: String, dn: Long, dv: Long)

  /** Changelog → RETRACT STREAM (§2B #130's streaming form): keyed by
    * the changelog key, state = the key's last version; every arriving
    * version emits −1/−old_cents against the superseded version's
    * group and +1/+new_cents for its own. Downstream, a maintained
    * GROUP BY is then a plain ADDITIVE fold of these signed deltas —
    * [[StreamzOps.sinkAggMaintain]] applies them to a persisted table
    * incrementally, no latest-state rescan ever.
    *
    * This is what the batch row computes with `lead()` inside one
    * frame: here the retraction pairs with insertions ACROSS
    * micro-batch (and restart) boundaries because the last version
    * lives in checkpointed ValueState. Replay-deterministic: state is
    * restored to the batch's start on recovery, so a replayed batch
    * re-emits identical deltas.
    *
    * Scale: state is O(1) per key (one LastVer), sharded by the
    * groupByKey shuffle; deltas are additive and commutative (integer
    * cents — exact cancellation), so any downstream partial
    * aggregation order is correct.
    */
  def retractAggStream(df: DataFrame, keyCol: String, ordCol: String,
      groupCol: String, centsCol: String): DataFrame = {
    implicit val verEnc = Encoders.product[CdcVer]
    implicit val outEnc = Encoders.product[AggDelta]
    implicit val keyEnc = Encoders.scalaLong
    df.select(
        col(keyCol).cast("long").as("key"),
        col(ordCol).cast("long").as("ord"),
        col(groupCol).cast("string").as("grp"),
        col(centsCol).cast("long").as("cents")).as[CdcVer]
      .groupByKey(_.key)
      .transformWithState(new RetractProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF("grp", "dn", "dv")
  }

  /** Per-key last-version state → signed insert/retract deltas. */
  class RetractProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CdcVer, AggDelta] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[LastVer] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[LastVer]("last", Encoders.product[LastVer],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CdcVer],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[AggDelta] = {
      val out = Vector.newBuilder[AggDelta]
      var cur = if (last.exists()) Option(last.get()) else None
      // same per-batch ord sort contract as every fold in this file
      rows.toSeq.sortBy(_.ord).foreach { v =>
        cur.foreach(o => out += AggDelta(o.grp, -1L, -o.cents))
        out += AggDelta(v.grp, 1L, v.cents)
        cur = Some(LastVer(v.grp, v.cents))
      }
      cur.foreach(last.update)
      out.result().iterator
    }
  }
}
