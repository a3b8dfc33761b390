package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.StreamzOps
import graft.api.StreamzOps._

/** Benchmark harness: drives one workload against the program through
  * its public entry points only (`SparkEntry.queries`, the noop sink,
  * the `pg-cdc-sim` source, `sinkUpsert`, `readUpsertTable`) and
  * writes raw measurements as one JSON document. `run.py` derives the
  * inputs, launches this, checks the outputs and prints the result.
  *
  * {{{
  *   Harness --workload sql_mix --data DIR --work DIR --out FILE
  *           --cores 4 --trace 0 --t0-ms EPOCH_MS
  *           --rows q_a,q_b --warmup-passes 1 --warm-passes 2 --count-mode 0
  *   Harness --workload cdc_upsert ... --poll-batch 6350
  *   Harness --dump-oracle FILE
  * }}}
  */
object Harness {

  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Monotonic clock, expressed as epoch milliseconds. */
  def nowMs(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    if (a.m.contains("dump-oracle")) { dumpOracle(a("dump-oracle")); return }
    HeapAfterGc.install()
    val out = mutable.LinkedHashMap.empty[String, Any]
    // the process start, as the launcher saw it
    val setupT0 = a("t0-ms").toDouble
    val cores = a.int("cores")
    val data = a("data")
    val work = a("work")
    val traced = a("trace") == "1"
    // Set-up: process start (JVM, session, Engine init, table warm-up)
    // to ready for the first operation.
    val p0 = System.currentTimeMillis()
    val spark = session(cores, work)
    val p1 = System.currentTimeMillis()
    graft.Engine.init(spark, data)
    val p2 = System.currentTimeMillis()
    warmUp(spark)
    val p3 = System.currentTimeMillis()
    out("setup_s") = (p3 - setupT0) / 1e3
    // in seconds: before the session builder, session, Engine.init, warm-up
    out("setup_phases") = Map("before_session" -> (p0 - setupT0) / 1e3, "session" -> (p1 - p0) / 1e3,
      "engine_init" -> (p2 - p1) / 1e3, "warm_up" -> (p3 - p2) / 1e3)
    val rec = if (traced) Some(new Recorder) else None
    val plansRec = if (traced) Some(new PlanRecorder) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    plansRec.foreach(spark.listenerManager.register)
    val ctx = Ctx(spark, data, work, cores, out, rec, plansRec)
    val runStart = nowMs()
    a("workload") match {
      case "cdc_upsert" => Cdc.run(ctx, a)
      case _ => Batch.run(ctx, a)
    }
    out("run_ms") = nowMs() - runStart
    out("peak_rss_mb") = peakRssMb()
    out("peak_heap_mb") = HeapAfterGc.peakMb
    Files.write(Paths.get(a("out")), Json.writeValueAsBytes(out))
    spark.stop()
  }

  final case class Ctx(spark: SparkSession, data: String, work: String,
      cores: Int, out: mutable.Map[String, Any], rec: Option[Recorder], plans: Option[PlanRecorder]) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var nextId = 0L
    def span(parent: Long, op: String, name: String, s: Double, e: Double,
        attrs: Map[String, Double] = Map.empty): Long = {
      nextId += 1
      spans += Span(nextId, parent, op, name, s, e, attrs)
      nextId
    }
  }

  /** The session the program's own Bench uses, plus the program's
    * session extensions, with every working directory under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.setEventsReadConfs(s)
    s
  }

  /** Touch every table once, as the program's Bench does, so file
    * footers and the page cache are not charged to the first row. */
  def warmUp(spark: SparkSession): Unit =
    graft.Engine.TABLES.foreach(t => spark.table(t).count())

  /** Largest heap occupancy right after a collection, over the life of
    * the process, in MB: the program's heap demand, which, unlike the
    * resident size, does not follow the collector's heap sizing. */
  object HeapAfterGc {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peakMb = 0.0
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala.filter(p => heapPools(p._1)).values
            synchronized { peakMb = math.max(peakMb, after.map(_.getUsed).sum / 1048576.0) }
          }, null, null)
      case _ =>
    }
  }

  def peakRssMb(): Double = try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  } catch { case _: Throwable => 0.0 }

  /** Order-invariant row digest, the formula of `graft.tools.QueryDigest`:
    * rows = COUNT(*), digest = SUM of the 60-bit md5 prefix of each row
    * rendered in sorted-column order (doubles split into integer and
    * 18-digit fraction, NULL as 0x01). */
  def digest(df: DataFrame): (Long, String) = {
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    def canon(c: String) = types(c) match {
      case "double" | "float" =>
        val d = col(c).cast("double")
        concat(floor(d).cast("string"), lit(":"),
          floor((d - floor(d)) * lit(1e18) + lit(0.5)).cast("string"))
      case _ => col(c).cast("string")
    }
    val rowStr = concat_ws(",", df.columns.sorted.toSeq.map(c => coalesce(canon(c), lit("\u0001"))): _*)
    val h = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("decimal(38,0)")
    val r = df.select(count(lit(1)),
      coalesce(sum(h), lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toString)
  }

  /** Writes the program's oracle SQL for the reference side. */
  def dumpOracle(path: String): Unit =
    Files.write(Paths.get(path), Json.writeValueAsBytes(Map("oracle_sql" -> graft.SparkEntry.oracleSql)))

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** `sql_mix` and `llm_dedup`: each row runs to its full result through
  * the noop sink, a cold pass, untimed warm-up passes, then timed warm
  * passes, one client, back to back. Outputs are checked after the
  * passes. */
object Batch {
  import Harness._

  final case class Op(id: String, row: String, pass: String, ok: Boolean,
      err: String, ms: Double, s0: Double, s1: Double, s2: Double,
      tracker: Option[org.apache.spark.sql.catalyst.QueryPlanningTracker] = None)

  def run(c: Ctx, a: Args): Unit = {
    val rows = a("rows").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val countMode = a("count-mode") == "1"
    val ops = mutable.ArrayBuffer.empty[Op]
    // a pass's time is the sum of its operations that succeeded
    def pass(name: String): Double =
      rows.zipWithIndex.map { case (r, i) =>
        val o = runOp(c, s"$name/$i/$r", r, name, countMode)
        ops += o
        if (o.ok) o.ms else 0.0
      }.sum
    val coldMs = pass("cold")
    // warm-up passes finish the JIT's settling after the cold pass; their
    // operations count as attempted but enter no timing
    (1 to a.int("warmup-passes")).foreach(p => pass(s"warmup$p"))
    val warmMs = (1 to a.int("warm-passes")).map(p => pass(s"warm$p"))
    c.out("cold_ms") = coldMs
    c.out("warm_pass_ms") = warmMs
    c.out("ops") = ops.toSeq.map { o =>
      Map("id" -> o.id, "row" -> o.row, "pass" -> o.pass, "ok" -> o.ok, "err" -> o.err,
        "ms" -> (if (o.ok) o.ms else null))
    }
    c.rec.foreach { rec =>
      rec.sync(c.spark.sparkContext)
      Layers.batch(c, rec, ops.toSeq, warmMs.size)
    }
    // Output check, outside the timed passes: a digest per oracled row;
    // the small result of a sketch or ANN row, for its property floor.
    val oracled = graft.SparkEntry.oracleSql.keySet
    c.out("checks") = rows.map { r =>
      try {
        val df = graft.SparkEntry.queries(r)(c.spark, c.data)
        val res = if (oracled(r)) {
          val (n, d) = digest(df)
          Map[String, Any]("rows" -> n, "digest" -> d)
        } else {
          val got = df.collect().toSeq
          Map[String, Any]("rows" -> got.size.toLong, "result" ->
            got.map(row => row.schema.fieldNames.map(f => f -> row.getAs[Any](f)).toMap))
        }
        c.spark.catalog.clearCache()
        Map[String, Any]("row" -> r, "ok" -> true) ++ res
      } catch { case e: Throwable =>
        Map[String, Any]("row" -> r, "ok" -> false, "err" -> msg(e))
      }
    }
  }

  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  /** One operation: build the row's DataFrame (the `queries` layer,
    * including any eager jobs), then write its full result to the
    * noop sink (planning and execution). Job groups tag every Spark
    * job with the operation id and phase. */
  def runOp(c: Ctx, id: String, row: String, pass: String, countMode: Boolean): Op = {
    val sc = c.spark.sparkContext
    val s0 = nowMs()
    try {
      sc.setJobGroup(s"$id|build", id)
      val df = graft.SparkEntry.queries(row)(c.spark, c.data)
      val s1 = nowMs()
      sc.setJobGroup(s"$id|exec", id)
      if (countMode) df.count()
      else df.write.format("noop").mode("overwrite").save()
      val s2 = nowMs()
      Op(id, row, pass, ok = true, "", s2 - s0, s0, s1, s2,
        c.rec.map(_ => df.queryExecution.tracker))
    } catch { case e: Throwable =>
      Op(id, row, pass, ok = false, msg(e), 0.0, s0, s0, s0)
    } finally {
      sc.clearJobGroup()
      c.spark.catalog.clearCache()
    }
  }
}

/** `cdc_upsert`: one `pg-cdc-sim` stream over `events` (with deletes)
  * into `sinkUpsert`, a snapshot batch then fixed-size poll batches
  * drained back to back, then one full read of the replica. */
object Cdc {
  import Harness._

  def run(c: Ctx, a: Args): Unit = {
    val spark = c.spark
    val table = s"${c.work}/cdc_table"
    val ckpt = s"${c.work}/cdc_ckpt"
    Seq(table, ckpt).foreach(p => deleteRecursively(new java.io.File(p)))
    val batch = a.int("poll-batch")
    val d0 = nowMs()
    val q = StreamzOps.cdcSource(spark, s"${c.data}/events.parquet",
        pollQuantum = batch.toLong, deletes = true)
      .sinkUpsert(table, Seq("key"), "seq", ckpt, opCol = Some("op"))
    q.awaitTermination()
    val d1 = nowMs()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    val r0 = nowMs()
    StreamzOps.readUpsertTable(spark, table).write.format("noop").mode("overwrite").save()
    val r1 = nowMs()
    c.out("drain_ms") = d1 - d0
    c.out("read_ms") = r1 - r0
    val changes = changeCounter(c)
    c.out("batches") = progress.map { p =>
      val dm = p.durationMs
      def d(k: String): Double = Option(dm.get(k)).map(_.doubleValue).getOrElse(0.0)
      Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows, "changes" -> changes(p),
        "trigger_ms" -> d("triggerExecution"), "latest_offset_ms" -> d("latestOffset"),
        "plan_ms" -> d("queryPlanning"), "wal_ms" -> d("walCommit"),
        "add_batch_ms" -> d("addBatch"), "commit_ms" -> d("commitOffsets"))
    }
    c.out("events_rows") = spark.read.parquet(s"${c.data}/events.parquet").count().toDouble
    c.out("events_file_bytes") = new java.io.File(s"${c.data}/events.parquet").length().toDouble
    val replica = StreamzOps.readUpsertTable(spark, table)
    c.out("table_bytes") = replica.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length()).sum.toDouble
    c.rec.foreach { rec =>
      rec.sync(spark.sparkContext)
      Layers.cdc(c, rec, q.runId.toString, progress, changes, d0, d1, r0, r1)
    }
    // Output check: the replica, keyed and canonicalised for the digest.
    val (n, dg) = digest(replica.select(col("key"), col("seq"), col("op"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value")))
    c.out("checks") = Seq(Map("row" -> "replica", "ok" -> true, "rows" -> n, "digest" -> dg))
  }

  /** Changes a batch committed, counted from the changelog itself: data
    * rows by event_id plus one tombstone per deleted key, sequenced
    * after the data as the source does. */
  def changeCounter(c: Ctx): org.apache.spark.sql.streaming.StreamingQueryProgress => Long = {
    import graft.sources.PgCdcSim
    val events = c.spark.read.parquet(s"${c.data}/events.parquet")
    val ids = events.select("event_id").collect().map(_.getLong(0)).sorted
    val maxSeq = if (ids.isEmpty) -1L else ids.last
    val tombs = events.where(col("user_id") % PgCdcSim.DELETED_KEY_MOD === PgCdcSim.DELETED_KEY_REM)
      .select("user_id").distinct().collect()
      .map(r => PgCdcSim.deleteSeq(maxSeq, r.getLong(0))).sorted
    def upTo(xs: Array[Long], s: Long): Int = { // how many of xs are <= s
      val i = java.util.Arrays.binarySearch(xs, s)
      if (i >= 0) i + 1 else -i - 1
    }
    p => {
      def off(o: String) = Option(o).map(_.trim.toLong).getOrElse(-1L)
      val (s, e) = (off(p.sources(0).startOffset), off(p.sources(0).endOffset))
      (upTo(ids, e) - upTo(ids, s) + upTo(tombs, e) - upTo(tombs, s)).toLong
    }
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
