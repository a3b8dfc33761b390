package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (as Spark's own
  * listener events and planning tracker report them); `parent` is the
  * id of the enclosing span, or -1 for an operation's root span. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

/** Everything the Spark listener bus tells about one job. */
final class JobRec(val jobId: Int, val group: String, val batchId: Long,
    val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

final class StageRec(val stageId: Int) {
  var submittedMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakMem = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
}

/** Listener state for a traced run: Spark jobs, stages and tasks
  * (keyed by job group, which the harness sets to the operation id)
  * and the planning tracker of every executed query. Events arrive
  * asynchronously on Spark's listener bus; [[Recorder.sync]] waits
  * until everything posted before it has been delivered. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  private val markers = mutable.HashSet.empty[String]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    if (group.startsWith(Recorder.MarkerPrefix)) markers += group
    else jobs(e.jobId) = new JobRec(e.jobId, group, batch, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    notifyAll()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submittedMs = t)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val i = e.taskInfo
    s.tasks += 1
    s.firstLaunchMs = math.min(s.firstLaunchMs, i.launchTime)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until the bus has delivered every event posted before this
    * call: run one marker job and wait for its start event (the bus
    * is FIFO, so everything earlier has been handled by then). */
  def sync(sc: org.apache.spark.SparkContext): Unit = {
    val g = Recorder.MarkerPrefix + java.util.UUID.randomUUID()
    sc.setJobGroup(g, "trace sync")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000L
    synchronized {
      while (!markers(g) && System.currentTimeMillis() < deadline) wait(50L)
    }
  }

  def jobsOf(p: JobRec => Boolean): Seq[JobRec] = synchronized(jobs.values.filter(p).toSeq)
}

object Recorder {
  val MarkerPrefix = "perfbench-sync-"
}

/** Planning trackers of executed queries, from Spark's public
  * query-execution listener channel. */
final class PlanRecorder extends QueryExecutionListener {
  val trackers = new ConcurrentLinkedQueue[org.apache.spark.sql.catalyst.QueryPlanningTracker]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = trackers.add(qe.tracker)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = trackers.add(qe.tracker)
  def all: Seq[org.apache.spark.sql.catalyst.QueryPlanningTracker] = trackers.asScala.toSeq
}

/** Aggregates Spark job/stage/task records into the exec- and
  * tables-layer counters over a set of jobs. */
object ExecAgg {
  val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

  def apply(rec: Recorder, jobs: Seq[JobRec]): Map[String, Double] = {
    val stageIds = jobs.flatMap(_.stageIds).distinct
    val ss = rec.synchronized(stageIds.flatMap(rec.stages.get))
    def sum(f: StageRec => Long) = ss.map(f).sum.toDouble
    Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> ss.count(_.tasks > 0).toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.sched_wait_ms" -> ss.filter(s => s.tasks > 0 && s.submittedMs > 0)
        .map(s => math.max(0L, s.firstLaunchMs - s.submittedMs)).sum.toDouble,
      "exec.task_ms" -> sum(_.runMs),
      "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead),
      "exec.shuffle_fetch_wait_ms" -> sum(_.fetchWaitMs),
      "exec.spill_bytes" -> sum(_.spill),
      "exec.peak_mem_bytes" -> (if (ss.isEmpty) 0.0 else ss.map(_.peakMem).max.toDouble),
      "tables.scan_bytes" -> sum(_.inBytes),
      "tables.scan_rows" -> sum(_.inRecords),
      "exec.output_bytes" -> sum(_.outBytes))
  }

  /** Length of `[lo, hi]` not covered by any of `ivs`. */
  def uncovered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    (hi - lo) - covered
  }
}
