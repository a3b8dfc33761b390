package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

import Harness.Ctx

/** Per-layer numbers of a traced run, built from the spans the harness
  * records around each layer call and from Spark's listener channels.
  * Writes `layers` (the per-layer metrics) and `trace` (the spans). */
object Layers {
  import ExecAgg.Phases

  private def jobSpans(c: Ctx, parent: Long, op: String, jobs: Seq[JobRec]): Unit =
    jobs.foreach(j => c.span(parent, op, s"job ${j.jobId}", j.startMs.toDouble,
      math.max(j.startMs, j.endMs).toDouble, Map("stages" -> j.stageIds.size.toDouble)))

  def batch(c: Ctx, rec: Recorder, ops: Seq[Batch.Op], warmPasses: Int): Unit = {
    val trackers = c.plans.map(_.all).getOrElse(Nil).distinct
    val perOp = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warm = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val warmJobs = mutable.ArrayBuffer.empty[JobRec]
    ops.filter(_.ok).foreach { o =>
      val build = rec.jobsOf(_.group == s"${o.id}|build")
      val exec = rec.jobsOf(_.group == s"${o.id}|exec")
      // the executed queries' trackers, plus the built Dataset's own
      // (its analysis runs while the builder constructs it)
      val phases = for {
        t <- (trackers ++ o.tracker).distinct; p <- Phases; s <- t.phases.get(p)
        if s.startTimeMs >= o.s0 - 1 && s.startTimeMs <= o.s2
      } yield (p, s.startTimeMs.toDouble, math.max(s.startTimeMs, s.endTimeMs).toDouble)
      val root = c.span(-1, o.id, "op", o.s0, o.s2, Map("ok" -> 1.0))
      val b = c.span(root, o.id, "queries.build", o.s0, o.s1, Map("eager_jobs" -> build.size.toDouble))
      val e = c.span(root, o.id, "exec", o.s1, o.s2)
      phases.foreach { case (p, s, en) =>
        c.span(if (s < o.s1) b else e, o.id, s"plans.$p", s, en)
      }
      jobSpans(c, b, o.id, build)
      jobSpans(c, e, o.id, exec)
      val execPlans = phases.filter(_._2 >= o.s1).map(p => (p._2, p._3))
      val execPlanMs = (o.s2 - o.s1) - ExecAgg.uncovered(o.s1, o.s2, execPlans)
      val jobIv = exec.map(j => (j.startMs.toDouble, j.endMs.toDouble))
      val driverSelf = ExecAgg.uncovered(o.s1, o.s2, jobIv ++ execPlans)
      val agg = ExecAgg(rec, build ++ exec)
      val split = Map[String, Double](
        "op_ms" -> o.ms, "build_ms" -> (o.s1 - o.s0), "plan_ms" -> execPlanMs,
        "exec_ms" -> (o.s2 - o.s1 - execPlanMs), "driver_self_ms" -> driverSelf,
        "eager_jobs" -> build.size.toDouble) ++
        Phases.map(p => s"plans.${p}_ms" -> phases.filter(_._1 == p).map(x => x._3 - x._2).sum) ++ agg
      perOp += Map[String, Any]("id" -> o.id, "row" -> o.row, "pass" -> o.pass) ++ split
      if (o.pass.matches("warm\\d+")) { // the timed warm passes
        warm("queries.build_ms") += o.s1 - o.s0
        warm("queries.eager_jobs") += build.size
        Phases.foreach(p => warm(s"plans.${p}_ms") += split(s"plans.${p}_ms"))
        warm("exec.driver_self_ms") += driverSelf
        warm("op_wall_ms") += o.ms
        warmJobs ++= build ++ exec
      }
    }
    val n = math.max(1, warmPasses).toDouble
    val agg = ExecAgg(rec, warmJobs.toSeq)
    val layers = (warm.toMap ++ agg).map { case (k, v) => k -> v / n } ++ Map(
      "exec.peak_mem_bytes" -> agg("exec.peak_mem_bytes"),
      "exec.util" -> agg("exec.task_ms") / math.max(1.0, warm("op_wall_ms") * c.cores))
    c.out("layers") = layers - "op_wall_ms"
    c.out("op_layers") = perOp.toSeq
    writeSpans(c)
  }

  def cdc(c: Ctx, rec: Recorder, runId: String, progress: Seq[StreamingQueryProgress],
      changes: StreamingQueryProgress => Long, d0: Double, d1: Double, r0: Double, r1: Double): Unit = {
    val streamJobs = rec.jobsOf(_.group == runId)
    val readJobs = rec.jobsOf(j => j.startMs >= r0 - 1 && j.startMs <= r1 && j.group != runId)
    val perBatch = progress.map { p =>
      val dm = p.durationMs
      def d(k: String): Double = Option(dm.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = s"cdc/batch/${p.batchId}"
      val root = c.span(-1, id, "op", start, start + d("triggerExecution"),
        Map("changes" -> changes(p).toDouble, "rows_read" -> p.numInputRows.toDouble))
      // progress reports phase durations only; lay them out in the
      // order the micro-batch runs them
      var t = start
      val phases = Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "stream.wal",
        "getBatch" -> "sources.get_batch", "queryPlanning" -> "stream.plan",
        "addBatch" -> "api.sink_add_batch", "commitOffsets" -> "stream.commit").flatMap {
        case (k, name) =>
          val ms = d(k)
          if (ms <= 0) None
          else { val sp = (c.span(root, id, name, t, t + ms), t, t + ms); t += ms; Some(sp) }
      }
      val jobs = streamJobs.filter(_.batchId == p.batchId)
      // each job under the phase it started in (progress times are whole ms)
      jobs.groupBy(j => phases.find { case (_, a, b) => j.startMs >= a - 1 && j.startMs <= b + 1 }
        .map(_._1).getOrElse(root)).foreach { case (parent, js) => jobSpans(c, parent, id, js) }
      Map[String, Any]("id" -> id, "batch" -> p.batchId, "changes" -> changes(p),
        "jobs" -> jobs.size) ++ ExecAgg(rec, jobs)
    }
    val readRoot = c.span(-1, "cdc/read", "op", r0, r1)
    val rs = c.span(readRoot, "cdc/read", "api.sink_read", r0, r1)
    jobSpans(c, rs, "cdc/read", readJobs)
    def sum(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val committed = progress.map(changes).sum.toDouble
    val polls = perBatch.filter(_("batch").asInstanceOf[Long] >= 1)
    val jobsPerBatch = if (polls.isEmpty) 0.0
      else Stats.median(polls.map(_("jobs").asInstanceOf[Int].toDouble))
    def num(k: String) = c.out(k).asInstanceOf[Double]
    val bytesPerChange = num("events_file_bytes") / math.max(1.0, num("events_rows"))
    val exec = ExecAgg(rec, streamJobs)
    val scans = ExecAgg(rec, streamJobs ++ readJobs)
    val driverSelf = ExecAgg.uncovered(d0, d1, streamJobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    val layers = exec ++ Map(
      "tables.scan_bytes" -> scans("tables.scan_bytes"),
      "tables.scan_rows" -> scans("tables.scan_rows"),
      "exec.driver_self_ms" -> driverSelf,
      "exec.util" -> exec("exec.task_ms") / math.max(1.0, (d1 - d0) * c.cores),
      "sources.latest_offset_ms" -> sum("latestOffset"),
      "sources.rows_read" -> progress.map(_.numInputRows).sum.toDouble,
      "sources.read_amplification" -> progress.map(_.numInputRows).sum / math.max(1.0, committed),
      "stream.plan_ms" -> sum("queryPlanning"),
      "stream.wal_ms" -> sum("walCommit"),
      "stream.commit_ms" -> sum("commitOffsets"),
      "api.sink_add_batch_ms" -> sum("addBatch"),
      "api.sink_jobs_per_batch" -> jobsPerBatch,
      "api.sink_bytes_written" -> exec("exec.output_bytes"),
      "api.sink_write_amplification" -> exec("exec.output_bytes") / math.max(1.0, committed * bytesPerChange),
      "api.sink_table_bytes" -> num("table_bytes"),
      "api.sink_read_ms" -> (r1 - r0))
    c.out("layers") = layers
    c.out("op_layers") = perBatch
    writeSpans(c)
  }

  private def writeSpans(c: Ctx): Unit =
    c.out("trace") = c.spans.toSeq.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
