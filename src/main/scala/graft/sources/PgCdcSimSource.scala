package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Postgres-CDC *simulator* source (SURVEY.md §7 M4): the reference's
  * snapshot-then-poll table replication semantics re-expressed as a
  * DataSource V2 `MicroBatchStream`.
  *
  * Semantics emulated (SURVEY.md §2A):
  *  - initial table snapshot → served as the FIRST micro-batch
  *    (offsets (-1, snapshotSeq]);
  *  - then incremental polling: each trigger advances the offset by at
  *    most `batchSize` sequence numbers (the poll quantum);
  *  - per-key ordering by a monotonically increasing seq (the
  *    transaction horizon — xmin/PK watermark in the reference);
  *  - op = I for a key's first appearance, U afterwards; with
  *    `deletes=true`, a deterministic subset of keys (key % 10 == 7)
  *    is tombstoned (op = D, null payload) after its last change —
  *    the logical-replication delete envelope a poll-based reference
  *    never sees but any real consumer eventually needs;
  *  - at-least-once replay from any committed offset (offsets are a
  *    single monotonic long → trivially restartable from the
  *    checkpoint WAL).
  *
  * JDBC-shaped execution: the driver plans OFFSETS ONLY and never
  * materializes changelog rows. Each slice carries a PREDICATE, not
  * rows: (seq range, key-hash partition id), resolved executor-side
  * via parquet-hadoop — no driver-side row shipping, no rows inside
  * task binaries. In production the same predicate becomes `WHERE seq
  * > ? AND seq <= ? AND hash(key) % n = ?` on a JDBC connection (or a
  * Kafka topic-partition seek); offsets, planning, and downstream
  * semantics stay identical.
  *
  * A stream pays the changelog-sized work once: its first
  * `pollHorizon` reads the data horizon from the changelog's footer
  * statistics (the `SELECT max(xmin)` analog) and runs one plain
  * n-task job that writes the derived changelog (op = I/U plus the
  * tombstones) as one seq-sorted parquet file per key-hash partition
  * under the checkpoint ([[ChangelogSidecar]]). Every slice after
  * that, the snapshot included, is one seq-range read of its own
  * partition's file, so a poll's cost follows the poll, not the log.
  * The sidecar assumes the changelog is immutable for the life of a
  * checkpoint, as a replay fixture is.
  *
  * Key-hash partitioning gives each reader the FULL history of its
  * keys, which is what makes op derivation (first-seen = I) and
  * per-key ordering local to a partition — the same reason a real
  * connector partitions a changelog by key.
  *
  * Schema evolution position (SURVEY.md §1.1 — the reference's rows
  * are dynamic dicts; this engine's frames are fixed StructTypes):
  * declare the WIDEST known schema up front — missing columns in
  * older data read as null; columns not yet declared are ignored
  * until a consumer restart declares them. Mid-stream column
  * appearance is therefore a RESTART concern, never data loss: the
  * changelog retains the column, and a restart with the widened
  * schema (same checkpoint) backfills from the offset forward.
  * Truly open-ended payloads belong in a JSON `props`-style column
  * (see q_json_funcs), which is the dynamic-dict analog. The
  * envelope columns here (seq/key/op/ts) are protocol-fixed, like
  * any replication slot's. SchemaEvolutionSuite pins all three
  * behaviors on the file source.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("pg-cdc-sim")
  *     .option("path", s"$dir/events.parquet")
  *     .option("batchSize", "100")     // poll quantum (seqs per trigger)
  *     .option("snapshotSeq", "499")   // last seq included in the snapshot
  *     .option("numPartitions", "4")
  *     .option("deletes", "true")      // emit op=D tombstones
  *     .load()
  * }}}
  */
class PgCdcSimSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pg-cdc-sim"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgCdcSim.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgCdcSimTable(new CaseInsensitiveStringMap(properties))
}

object PgCdcSim {
  /** CDC envelope: seq (tx horizon), key, op, event time, payload. */
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true)))

  final case class CdcRow(seq: Long, key: Long, op: String, tsUs: Long,
      eventType: String, value: java.lang.Double) // value nullable per schema

  /** Keys tombstoned when `deletes` is on: deterministic subset. */
  val DELETED_KEY_MOD = 10L
  val DELETED_KEY_REM = 7L
  def isDeletedKey(key: Long): Boolean = key % DELETED_KEY_MOD == DELETED_KEY_REM

  /** Tombstone seq for a key: appended after the whole changelog, in
    * key order, collision-free because keys are unique.
    */
  def deleteSeq(maxDataSeq: Long, key: Long): Long = maxDataSeq + 1 + key

  /** Reference implementation of the changelog derivation, driver-side
    * (test oracle; the source itself reads executor-side via
    * `ChangelogReader`). op = I on first appearance of key in seq
    * order; with deletes, op=D tombstones appended per `deleteSeq`.
    */
  def loadChangelog(path: String, deletes: Boolean = false): Array[CdcRow] = {
    val spark = SparkSession.active
    graft.Tables.setEventsReadConfs(spark)
    val raw = spark.read.parquet(path)
    // schema-adaptive µs extraction (see Tables.normalizeEventsTs):
    // legacy int64-ns fixture → integer div; µs fixture (TimestampType
    // under the confs) → unix_micros is the raw stored value.
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
    val rows = raw
      .select(col("event_id"), col("user_id"),
        tsUs.as("ts_us"), col("event_type"), col("value"))
      .orderBy("event_id")
      .collect()
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val maxSeq = if (rows.isEmpty) -1L else rows.map(_.getLong(0)).max
    val data = rows.map { r =>
      val key = r.getLong(1)
      val op = if (seen.add(key)) "I" else "U"
      val value: java.lang.Double = if (r.isNullAt(4)) null else r.getDouble(4)
      CdcRow(r.getLong(0), key, op, r.getLong(2), r.getString(3), value)
    }
    if (!deletes) data
    else {
      val tombs = data.groupBy(_.key).collect {
        case (k, hist) if isDeletedKey(k) =>
          CdcRow(deleteSeq(maxSeq, k), k, "D",
            hist.map(_.tsUs).max + 1000000L, null, null)
      }.toArray
      (data ++ tombs).sortBy(_.seq)
    }
  }
}

/** Offset = last sequence number included (single monotonic long). */
final case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

class PgCdcSimTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path"))
    .getOrElse(throw new IllegalArgumentException("pg-cdc-sim requires option 'path'"))
  private val batchSize = options.getLong("batchSize", 1000L)
  require(batchSize > 0,
    s"pg-cdc-sim batchSize must be > 0 (got $batchSize): a zero poll " +
      "quantum can never advance the offset, so AvailableNow never terminates")
  private val snapshotSeq = options.getLong("snapshotSeq", -1L)
  private val numPartitions = options.getInt("numPartitions", 4)
  private val deletes = options.getBoolean("deletes", false)
  // backend selector (r13): "parquet" = the simulator; "debezium-json"
  // = the on-disk Debezium JSON-envelope directory feed
  // (sources/DebeziumJsonChangelog), with `keyField` naming the
  // primary-key column inside before/after. The offset/admission/
  // restart machinery downstream is identical for both.
  private val backend = Option(options.get("backend")).getOrElse("parquet")
  require(backend == "parquet" || backend == "debezium-json",
    s"pg-cdc-sim backend must be one of [parquet, debezium-json] (got " +
      s""""$backend"): an unrecognized value silently reading the parquet """ +
      "simulator would produce confusing empty/wrong results")
  private val keyField = Option(options.get("keyField")).getOrElse("id")

  override def name(): String = s"pg-cdc-sim($path)"
  override def schema(): StructType = PgCdcSim.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new PgCdcSimScan(path, batchSize, snapshotSeq, numPartitions, deletes,
          backend, keyField)
    }
}

class PgCdcSimScan(path: String, batchSize: Long, snapshotSeqOpt: Long,
    numPartitions: Int, deletes: Boolean,
    backend: String = "parquet", keyField: String = "id") extends Scan {
  override def readSchema(): StructType = PgCdcSim.schema
  override def description(): String = s"PgCdcSim(path=$path, batchSize=$batchSize)"
  override def supportedCustomMetrics(): Array[CustomMetric] =
    if (backend == "debezium-json") Array.empty else Array(new RecordsMaterialized)

  override def toBatch: Batch = new Batch {
    // the parquet simulator reads the raw changelog once per
    // partition, with no sidecar: readers get the data horizon, read
    // from the footers, to place tombstone seqs without scanning the
    // log themselves. The Debezium feed goes through its connector seam
    private lazy val debezium =
      new DebeziumJsonChangelog(path, keyField, numPartitions)
    override def planInputPartitions(): Array[InputPartition] =
      if (backend == "debezium-json") debezium.planSlices(Long.MinValue, Long.MaxValue)
      else ChangelogSlice.plan(path, numPartitions, deletes, ChangelogFiles.dataHorizon(
        path, SparkSession.active.sessionState.newHadoopConf()))
    // one conf broadcast per scan, as Spark's own ParquetScan does
    override def createReaderFactory(): PartitionReaderFactory =
      if (backend == "debezium-json") debezium.readerFactory()
      else new ChangelogReaderFactory(ChangelogReaderFactory.broadcastSessionConf())
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PgCdcSimMicroBatchStream(path, batchSize, snapshotSeqOpt, numPartitions,
      deletes, checkpointLocation, backend, keyField)
}

class PgCdcSimMicroBatchStream(path: String, batchSize: Long,
    snapshotSeqOpt: Long, numPartitions: Int, deletes: Boolean,
    checkpointLocation: String,
    backend: String = "parquet", keyField: String = "id")
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  // ALL backend access goes through the connector seam
  // (sources/CdcChangelog) — override [[makeChangelog]] with a
  // JDBC/Debezium implementation and the offset/planning machinery
  // below is unchanged (CdcAdapterSuite drives exactly this seam
  // with an in-memory backend)
  protected def makeChangelog(): CdcChangelog =
    if (backend == "debezium-json")
      new DebeziumJsonChangelog(path, keyField, numPartitions)
    else
      // the partition count is in the dir name, so a restart with a
      // different numPartitions builds its own sidecar; row groups of
      // about one poll's share per partition let a poll's seq
      // predicate skip the rest of the file
      new ParquetChangelog(path, numPartitions, deletes, ChangelogSidecar(
        s"$checkpointLocation/sources_graft/log_n$numPartitions",
        math.min(Int.MaxValue.toLong, math.max(1L, batchSize / numPartitions)).toInt))
  private lazy val changelog: CdcChangelog = makeChangelog()
  // planning stats only — the driver never materializes changelog rows
  private lazy val stats: (Long, Long) = changelog.pollHorizon()
  private lazy val maxSeq: Long = stats._2
  // clamped to maxSeq on BOTH paths: an out-of-range snapshotSeq or an
  // empty changelog (maxSeq = -1, where -1/2 == 0 in Scala) must not
  // create offsets beyond the data — otherwise latestOffset would
  // oscillate non-monotonically forever
  private lazy val snapshotSeq: Long =
    math.min(if (snapshotSeqOpt >= 0) snapshotSeqOpt else maxSeq / 2, maxSeq)

  override def initialOffset(): Offset = SeqOffset(-1L)

  /** One "poll" (admission control): from the engine's current start
    * offset, expose the snapshot first, then at most one quantum more
    * seqs — the reference's poll semantics. Stateless: restart-safe
    * from the checkpoint WAL, because the next batch derives purely
    * from the committed offset the engine passes in. The quantum
    * comes from the engine's ReadLimit (which echoes
    * getDefaultReadLimit unless wrapped by AvailableNow), so rate
    * control composes with triggers the standard way.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].seq
    val quantum = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _ => batchSize
    }
    val next = if (s < snapshotSeq) snapshotSeq
               else math.min(s + quantum, maxSeq)
    SeqOffset(next)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)
  override def reportLatestOffset(): Offset = SeqOffset(maxSeq)
  // maxSeq is fixed for a replay fixture — nothing to freeze.
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is always used")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqOffset].seq
    val e = end.asInstanceOf[SeqOffset].seq
    changelog.planSlices(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    changelog.readerFactory()
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = changelog.close()

  /** The replication-slot lag a real source reports: the log's horizon
    * and how many seqs lie past the latest consumed offset (the whole
    * log plus one before the first batch). */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : util.Map[String, String] = {
    val consumed =
      if (latestConsumedOffset.isPresent) latestConsumedOffset.get.json.toLong else -1L
    util.Map.of("horizonSeq", maxSeq.toString, "backlogSeqs", (maxSeq - consumed).toString)
  }
}

/** Predicate-bearing partition of the WHOLE raw changelog: one
  * key-hash partition (hash(key) % numPartitions == partId). NO rows
  * — the executor-side reader resolves the predicate against the
  * changelog itself, the shape of a JDBC partition (`WHERE hash(key)
  * % n = ?`). `maxDataSeq` is the driver-planned data horizon (max seq
  * in the log, tombstones excluded): readers place tombstone seqs with
  * it instead of re-deriving it by scanning. Serves batch reads and
  * the [[ChangelogSidecar]] build; a stream's seq-range slices are
  * [[SidecarSlice]]s.
  */
final case class ChangelogSlice(path: String, partId: Int,
    numPartitions: Int, deletes: Boolean, maxDataSeq: Long)
    extends InputPartition

object ChangelogSlice {
  def plan(path: String, numPartitions: Int, deletes: Boolean,
      maxDataSeq: Long): Array[InputPartition] =
    (0 until numPartitions).map { i =>
      ChangelogSlice(path, i, numPartitions, deletes, maxDataSeq): InputPartition
    }.toArray
}

/** Read-amplification metric of a changelog scan: the records its
  * sidecar and raw reads MATERIALIZE (those that survived parquet
  * row-group statistics and record-level filtering), summed over the
  * scan's tasks into the scan node's SQL metric. */
final class RecordsMaterialized extends CustomSumMetric {
  override def name(): String = RecordsMaterialized.Name
  override def description(): String = "changelog records materialized"
}

object RecordsMaterialized {
  val Name = "recordsMaterialized"

  /** A reader's count so far, as its `currentMetricsValues`. */
  def task(count: Long): Array[CustomTaskMetric] = Array(new CustomTaskMetric {
    override def name(): String = Name
    override def value(): Long = count
  })
}

object ChangelogReaderFactory {
  /** The session Hadoop conf (filesystem credentials, legacy-parquet
    * flags, …) as a broadcast, built on the DRIVER: executor-side
    * readers resolve the changelog exactly as the session would, and
    * fetch the conf once per executor instead of deserializing it in
    * every task. The caller destroys it. */
  def broadcastSessionConf(): Broadcast[SerializableConfiguration] = {
    val spark = SparkSession.active
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}

/** Opens every slice's reader on one broadcast Hadoop conf, so the
  * factory in each task binary carries only the broadcast's handle. */
class ChangelogReaderFactory(val conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case s: SidecarSlice => new SidecarReader(s, conf.value.value)
      case s: ChangelogSlice => new ChangelogReader(s, conf.value.value)
    }
}

/** The raw changelog's data files and what their footers tell. */
object ChangelogFiles {
  /** `path` itself, or a directory's data files (hidden `_`/`.` names
    * skipped) in name order; empty when `path` does not exist. */
  def list(path: String, conf: Configuration): Array[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Array.empty
    else if (!fs.getFileStatus(p).isDirectory) Array(p)
    else fs.listStatus(p).map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.toString)
  }

  /** A record reader over one parquet file, opened on `conf` itself:
    * parquet's path-taking builder builds and parses a default
    * `Configuration` on every open before it takes `conf`. */
  private[sources] def openRecords(file: Path, conf: Configuration,
      readSupport: ReadSupport[ChangelogRecord],
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetReader[ChangelogRecord] =
    new ParquetReader.Builder[ChangelogRecord](HadoopInputFile.fromPath(file, conf)) {
      override protected def getReadSupport(): ReadSupport[ChangelogRecord] = readSupport
    }.withFilter(filter).build()

  /** Max `event_id` of the changelog (-1 when empty) from its
    * column-chunk max statistics: footers only, no data pages and no
    * Spark job. Falls back to one `max(event_id)` aggregate job when a
    * non-empty chunk carries no statistics. */
  def dataHorizon(path: String, conf: Configuration): Long = {
    import scala.jdk.CollectionConverters._
    val chunkMaxes = list(path, conf).toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "event_id")
          .map(_.getStatistics).filter(s => s != null && !s.isEmpty)
          .map(s => if (s.hasNonNullValue) s.genericGetMax.asInstanceOf[Number].longValue
                    else -1L) // an all-null chunk holds no seq
      } finally r.close()
    }
    if (chunkMaxes.forall(_.isDefined)) (-1L +: chunkMaxes.flatten).max
    else {
      val spark = SparkSession.active
      graft.Tables.setEventsReadConfs(spark)
      val agg = spark.read.parquet(path).agg(max(col("event_id"))).collect()(0)
      if (agg.isNullAt(0)) -1L else agg.getLong(0)
    }
  }
}

/** Executor-side RAW changelog reader: derives THIS partition's whole
  * history directly from the parquet changelog via parquet-hadoop (no
  * SparkSession on executors, no driver shipping). In production the
  * read is a JDBC query / Kafka seek resolving the same predicate
  * server-side. Batch reads and the [[ChangelogSidecar]] build use
  * it; a stream reads the sidecar instead.
  *
  * One pass over the changelog's five columns keeps this partition's
  * rows; sorted by seq, a key's first row is op = I and the rest U.
  * With `deletes`, each deleted key's tombstone takes its last
  * timestamp from the same rows, so there is no second pass.
  *
  * Memory: one partition's whole history, buffered once as
  * [[PgCdcSim.CdcRow]]s to sort it by seq.
  */
class ChangelogReader(slice: ChangelogSlice, hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {
  import PgCdcSim.CdcRow

  /** Footer schema of the changelog (first data file under `path`);
    * None for an empty directory. Needed to build the column
    * projection that preserves the file's exact physical
    * types/annotations.
    */
  private lazy val files: Array[Path] = ChangelogFiles.list(slice.path, hadoopConf)

  private lazy val changelogSchema: Option[MessageType] =
    files.headOption.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, hadoopConf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }

  /** ts → µs conversion derived from the footer's logical annotation,
    * NOT hard-coded: the fixture's `ts` has been both TIMESTAMP(NANOS)
    * (rounds ≤9) and TIMESTAMP(MICROS) (r10 regen). Getting this wrong
    * on the raw-parquet path fails SILENTLY (timestamps off 1000×),
    * unlike the Spark reader which at least throws — hence the
    * SchemaGuardSuite pin. Unannotated int64 = legacy ns assumption.
    */
  private lazy val tsRawToMicros: Long => Long = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    changelogSchema
      .filter(_.containsField("ts"))
      .flatMap(s => Option(
        s.getType(s.getFieldIndex("ts")).getLogicalTypeAnnotation))
      .collect { case t: TimestampLogicalTypeAnnotation => t.getUnit }
      .map {
        case LogicalTypeAnnotation.TimeUnit.NANOS  => (raw: Long) => raw / 1000L
        case LogicalTypeAnnotation.TimeUnit.MILLIS => (raw: Long) => raw * 1000L
        case _                                     => (raw: Long) => raw
      }
      .getOrElse((raw: Long) => raw / 1000L)
  }

  private var materialized = 0L

  private def mineKey(key: Long): Boolean =
    math.floorMod(key, slice.numPartitions.toLong) == slice.partId

  /** This partition's rows, in seq order. Rows are decoded into one
    * reused [[ChangelogRecord]], so other partitions' keys allocate
    * nothing. */
  private[sources] lazy val rows: Array[CdcRow] = {
    val mine = scala.collection.mutable.ArrayBuffer.empty[CdcRow]
    changelogSchema.foreach { schema =>
      val projection = new MessageType("graft_changelog_projection",
        Seq("event_id", "user_id", "ts", "event_type", "value")
          .map(c => schema.getType(schema.getFieldIndex(c))): _*)
      val readSupport = new ChangelogRecordReadSupport(projection, tsRawToMicros)
      files.foreach { f =>
        val reader = ChangelogFiles.openRecords(f, hadoopConf, readSupport)
        try {
          var r = reader.read()
          while (r != null) {
            materialized += 1
            if (mineKey(r.key)) mine += CdcRow(r.seq, r.key, null, r.tsUs, r.eventType,
              if (r.hasValue) java.lang.Double.valueOf(r.value) else null)
            r = reader.read()
          }
        } finally reader.close()
      }
    }
    val data = mine.toArray
    mine.clear()
    java.util.Arrays.sort(data, (a: CdcRow, b: CdcRow) => java.lang.Long.compare(a.seq, b.seq))
    val seen = scala.collection.mutable.HashSet.empty[Long]
    // op in place: one buffered copy of the history, not two
    for (i <- data.indices)
      data(i) = data(i).copy(op = if (seen.add(data(i).key)) "I" else "U")

    // tombstones at maxDataSeq+1+key, after each deleted key's last change
    val tombs =
      if (!slice.deletes || slice.maxDataSeq < 0L) Array.empty[CdcRow]
      else {
        val maxTsUs = scala.collection.mutable.HashMap.empty[Long, Long]
        data.foreach { r =>
          if (PgCdcSim.isDeletedKey(r.key))
            maxTsUs.updateWith(r.key)(p =>
              Some(math.max(p.getOrElse(Long.MinValue), r.tsUs)))
        }
        maxTsUs.toArray.map { case (k, t) =>
          CdcRow(PgCdcSim.deleteSeq(slice.maxDataSeq, k), k, "D",
            t + 1000000L, null, null)
        }.sortBy(_.seq)
      }
    data ++ tombs // tombstone seqs all exceed data seqs: still sorted
  }

  private var i = -1
  override def next(): Boolean = { i += 1; i < rows.length }
  override def get(): InternalRow = {
    val r = rows(i)
    InternalRow(r.seq, r.key, UTF8String.fromString(r.op), r.tsUs,
      if (r.eventType == null) null else UTF8String.fromString(r.eventType),
      r.value)
  }
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    RecordsMaterialized.task(materialized)
  override def close(): Unit = ()
}

/** One changelog record, overwritten in place by
  * [[ChangelogRecordReadSupport]] for every record. */
final class ChangelogRecord {
  var seq = 0L
  var key = 0L
  var op: String = _
  var tsUs = 0L
  var eventType: String = _
  var hasValue = false
  var value = 0.0
}

/** Materializes changelog records straight into one reused
  * [[ChangelogRecord]], with no per-record object assembly, from the
  * raw changelog's columns (event_id, user_id, ts, event_type, value)
  * or a [[ChangelogSidecar]]'s, which adds op. `ts` decodes from
  * either physical encoding: INT64 via `tsRawToMicros`, or INT96 —
  * Spark's DEFAULT parquet timestamp output (julian day + nanos-of-day,
  * no annotation), which any Spark-written changelog carries (e.g. the
  * GenScale 10× events set; caught by the r15 streaming scale probe as
  * a ClassCastException in the executor). String dictionary pages
  * decode each distinct value once. Only event_type and value may be
  * null: a record missing any other projected column fails the read,
  * naming the column, instead of keeping the previous record's value.
  */
final class ChangelogRecordReadSupport(projection: MessageType,
    tsRawToMicros: Long => Long)
    extends org.apache.parquet.hadoop.api.ReadSupport[ChangelogRecord] {
  import org.apache.parquet.column.Dictionary
  import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
  import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}

  override def init(context: InitContext): ReadSupport.ReadContext =
    new ReadSupport.ReadContext(projection)

  override def prepareForRead(conf: Configuration,
      keyValueMetaData: util.Map[String, String], fileSchema: MessageType,
      readContext: ReadSupport.ReadContext): RecordMaterializer[ChangelogRecord] = {
    val rec = new ChangelogRecord
    val names = (0 until projection.getFieldCount).map(projection.getFieldName)
    val required = names.indices
      .filterNot(i => names(i) == "event_type" || names(i) == "value")
      .foldLeft(0)((mask, i) => mask | 1 << i)
    var present = 0 // bit i: column i was set in the current record
    def converter(i: Int): Converter = {
      def long(set: Long => Unit): Converter = new PrimitiveConverter {
        override def addLong(v: Long): Unit = { present |= 1 << i; set(v) }
        override def addInt(v: Int): Unit = addLong(v.toLong)
      }
      def string(set: String => Unit): Converter = new PrimitiveConverter {
        private var dict: Array[String] = Array.empty
        override def hasDictionarySupport: Boolean = true
        override def setDictionary(d: Dictionary): Unit =
          dict = Array.tabulate(d.getMaxId + 1)(d.decodeToBinary(_).toStringUsingUTF8)
        override def addValueFromDictionary(id: Int): Unit = { present |= 1 << i; set(dict(id)) }
        override def addBinary(v: Binary): Unit = { present |= 1 << i; set(v.toStringUsingUTF8) }
      }
      names(i) match {
        case "event_id" => long(rec.seq = _)
        case "user_id" => long(rec.key = _)
        case "op" => string(rec.op = _)
        case "ts" => new PrimitiveConverter {
          override def addLong(v: Long): Unit = { present |= 1 << i; rec.tsUs = tsRawToMicros(v) }
          // INT96 layout: 8 bytes nanos-of-day + 4 bytes julian day,
          // both little-endian (the layout every parquet writer emits
          // and Spark's own ParquetRowConverter decodes)
          override def addBinary(v: Binary): Unit = {
            present |= 1 << i
            val buf = v.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            rec.tsUs = (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          }
        }
        case "event_type" => string(rec.eventType = _)
        case "value" => new PrimitiveConverter {
          override def addDouble(v: Double): Unit = { rec.hasValue = true; rec.value = v }
        }
        case other => throw new IllegalArgumentException(s"unexpected changelog column $other")
      }
    }
    val converters = names.indices.map(converter).toArray
    val root = new GroupConverter {
      override def getConverter(i: Int): Converter = converters(i)
      override def start(): Unit = { present = 0; rec.eventType = null; rec.hasValue = false }
      override def end(): Unit =
        if ((present & required) != required) throw new IllegalArgumentException(
          "changelog record with a null " + names.indices
            .filter(i => (required & ~present & 1 << i) != 0).map(names).mkString(", "))
    }
    new RecordMaterializer[ChangelogRecord] {
      override def getCurrentRecord: ChangelogRecord = rec
      override def getRootConverter: GroupConverter = root
    }
  }
}
