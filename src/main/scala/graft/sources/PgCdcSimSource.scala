package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
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
  * JDBC-shaped execution (round-2): the driver plans OFFSETS ONLY —
  * its one data access is a tiny aggregate (max seq / max tombstoned
  * key), the analog of the reference's `SELECT max(xmin)` poll. Each
  * `ChangelogSlice` carries a PREDICATE, not rows: (seq range, key-
  * hash partition id). Executor-side readers pull their own rows
  * straight from the changelog file via parquet-hadoop — no
  * driver-side row shipping, no rows inside task binaries. In
  * production only `ChangelogReader.open` changes: the same predicate
  * becomes `WHERE seq > ? AND seq <= ? AND hash(key) % n = ?` on a
  * JDBC connection (or a Kafka topic-partition seek); offsets,
  * planning, and downstream semantics stay identical.
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

  /** Keys tombstoned when `deletes` is on: deterministic subset.
    * MOD/REM are the single source of truth — changelogStats' SQL
    * predicate derives from them too, so the planner's max-seq bound
    * can never diverge from the readers' tombstone derivation.
    */
  val DELETED_KEY_MOD = 10L
  val DELETED_KEY_REM = 7L
  def isDeletedKey(key: Long): Boolean = key % DELETED_KEY_MOD == DELETED_KEY_REM

  /** Tombstone seq for a key: appended after the whole changelog, in
    * key order, collision-free because keys are unique.
    */
  def deleteSeq(maxDataSeq: Long, key: Long): Long = maxDataSeq + 1 + key

  /** Driver-side planning stats — the `SELECT max(xmin)` analog. One
    * tiny aggregate job; NO rows reach the driver.
    * Returns (max data seq, max overall seq incl. tombstones).
    */
  def changelogStats(path: String, deletes: Boolean): (Long, Long) = {
    val spark = SparkSession.active
    graft.Tables.setEventsReadConfs(spark)
    val agg = spark.read.parquet(path).agg(
      max(col("event_id")).as("max_seq"),
      max(when(col("user_id") % DELETED_KEY_MOD === DELETED_KEY_REM,
        col("user_id"))).as("max_del_key"))
      .collect()(0)
    val maxSeq = if (agg.isNullAt(0)) -1L else agg.getLong(0)
    val maxAll =
      if (!deletes || agg.isNullAt(1)) maxSeq
      else math.max(maxSeq, deleteSeq(maxSeq, agg.getLong(1)))
    (maxSeq, maxAll)
  }

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

  override def toBatch: Batch = new Batch {
    // the same connector seam the stream uses (sources/CdcChangelog);
    // the horizon poll is one tiny driver-side aggregate — readers
    // need the data horizon to place tombstone seqs without scanning
    // the log themselves
    private lazy val changelog: CdcChangelog =
      if (backend == "debezium-json") new DebeziumJsonChangelog(path, keyField, numPartitions)
      else new ParquetChangelog(path, numPartitions, deletes)
    override def planInputPartitions(): Array[InputPartition] =
      changelog.planSlices(Long.MinValue, Long.MaxValue) // full range ⇒ no history pass
    override def createReaderFactory(): PartitionReaderFactory =
      changelog.readerFactory()
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PgCdcSimMicroBatchStream(path, batchSize, snapshotSeqOpt, numPartitions,
      deletes, checkpointLocation, backend, keyField)
}

class PgCdcSimMicroBatchStream(path: String, batchSize: Long,
    snapshotSeqOpt: Long, numPartitions: Int, deletes: Boolean,
    checkpointLocation: String,
    backend: String = "parquet", keyField: String = "id")
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  // ALL backend access goes through the connector seam
  // (sources/CdcChangelog) — override [[makeChangelog]] with a
  // JDBC/Debezium implementation and the offset/planning machinery
  // below is unchanged (CdcAdapterSuite drives exactly this seam
  // with an in-memory backend)
  protected def makeChangelog(): CdcChangelog =
    if (backend == "debezium-json")
      new DebeziumJsonChangelog(path, keyField, numPartitions)
    else
      new ParquetChangelog(path, numPartitions, deletes, () => Some(firstSeenDir))
  private lazy val changelog: CdcChangelog = makeChangelog()
  // planning stats only — the driver never materializes changelog rows
  private lazy val stats: (Long, Long) = changelog.pollHorizon()
  private lazy val maxSeq: Long = stats._2

  /** First-seen key index sidecar, built ONCE per stream (one Spark
    * job, no rows to the driver) under the checkpoint: (user_id,
    * first_seq) bucketed by the reader partitioning. Mid-stream
    * readers resolve "did this key change before my slice?" from
    * their own bucket — O(keys/partition) — instead of re-scanning a
    * two-column prefix of the changelog on EVERY micro-batch. Safe to
    * reuse across restarts (same checkpoint ⇒ same changelog replay
    * fixture); the bucket count is baked into the dir name so a
    * restart with different numPartitions rebuilds it.
    */
  private lazy val firstSeenDir: String = {
    val spark = SparkSession.active
    graft.Tables.setEventsReadConfs(spark)
    val dir = s"$checkpointLocation/sources_graft/first_seen_n$numPartitions"
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(s"$dir/_SUCCESS")))
      spark.read.parquet(path)
        .groupBy(col("user_id"))
        .agg(min(col("event_id")).as("first_seq"))
        .withColumn("part", pmod(col("user_id"), lit(numPartitions.toLong)))
        .repartition(numPartitions, col("part"))
        .write.mode("overwrite").partitionBy("part").parquet(dir)
    dir
  }
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
    // the first-seen sidecar only pays off (and is only consulted,
    // inside ParquetChangelog) for mid-stream slices that would
    // otherwise scan a history prefix
    changelog.planSlices(s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    changelog.readerFactory()
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Predicate-bearing partition: seq range (start, end] + key-hash
  * partition (hash(key) % numPartitions == partId). NO rows — the
  * executor-side reader resolves the predicate against the changelog
  * itself. This is the exact shape of a JDBC-polling partition
  * (`WHERE seq > ? AND seq <= ? AND hash(key) % n = ?`) or a Kafka
  * topic-partition offset range. `maxDataSeq` is the driver-planned
  * data horizon (max seq in the log, tombstones excluded): readers
  * place tombstone seqs with it instead of re-deriving it by scanning.
  * `firstSeenDir`, when set, points at the stream's bucketed
  * first-seen key index — readers resolve op derivation from their
  * own bucket instead of scanning the changelog prefix.
  */
final case class ChangelogSlice(path: String, start: Long, end: Long,
    partId: Int, numPartitions: Int, deletes: Boolean,
    maxDataSeq: Long, firstSeenDir: Option[String]) extends InputPartition

object ChangelogSlice {
  def plan(path: String, start: Long, end: Long, numPartitions: Int,
      deletes: Boolean, maxDataSeq: Long,
      firstSeenDir: Option[String]): Array[InputPartition] =
    (0 until numPartitions).map { i =>
      ChangelogSlice(path, start, end, i, numPartitions, deletes,
        maxDataSeq, firstSeenDir): InputPartition
    }.toArray
}

/** Test-visible read-amplification telemetry: every record a
  * changelog pass actually MATERIALIZES (i.e. survived parquet
  * row-group statistics + record-level filtering). CdcSourceSuite
  * asserts a narrow slice stays far below full-log materialization.
  */
object ChangelogReadMetrics {
  val recordsMaterialized = new java.util.concurrent.atomic.LongAdder
}

object ChangelogReaderFactory {
  /** Built on the DRIVER at plan time: captures the session Hadoop
    * conf (filesystem credentials, legacy-parquet flags, …) so
    * executor-side readers resolve the changelog exactly as the
    * session would — not via a bare `new Configuration()`.
    */
  def forSession(): ChangelogReaderFactory =
    new ChangelogReaderFactory(new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf()))
}

class ChangelogReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangelogReader(partition.asInstanceOf[ChangelogSlice], conf.value)
}

/** Executor-side changelog reader: pulls THIS partition's rows
  * directly from the parquet changelog via parquet-hadoop (no
  * SparkSession on executors, no driver shipping). In production
  * each pass below is a JDBC query / Kafka seek resolving the same
  * predicate server-side.
  *
  * The slice's predicates are PUSHED INTO the parquet read as
  * `FilterPredicate`s (row-group statistics skip whole groups only
  * when the changelog's row groups are clustered by seq; record-level
  * filtering drops the rest before materialization) and each pass
  * projects only the columns it needs:
  *
  *  1. output pass — rows with seq ∈ (start, end], all columns: the
  *     only full-width read. On a seq-clustered changelog it touches
  *     only row groups overlapping the slice; on one whose groups
  *     span the whole seq range (a single row group, or rows stored
  *     out of seq order) no group is skipped, and every reader
  *     decodes the whole log on every poll;
  *  2. history — which of this partition's keys appeared before the
  *     slice (op = I on a key's global first change). Resolved from
  *     this partition's bucket of the stream's first-seen key index
  *     when one exists (built once per stream — O(keys/partition) per
  *     batch), else a 2-column (event_id, user_id) prefix pass with
  *     seq ≤ start pushed down. Skipped entirely for the snapshot
  *     batch (start < 0);
  *  3. tombstone pass — only when the slice range extends past the
  *     data horizon: tombstone seqs are maxDataSeq+1+key, so the seq
  *     range inverts to a KEY range pushed down on (user_id, ts) to
  *     recover each deleted key's final timestamp.
  *
  * vs the pre-round-6 reader (full-log scan, all columns, per slice,
  * per micro-batch): on a seq-clustered changelog a narrow poll reads
  * its own row groups plus a two-column prefix instead of the full
  * log. On an unclustered one the output pass still decodes every row
  * group per reader and per poll (filtering then drops the rows before
  * materialization), so the O(full log) decode cost remains there.
  */
class ChangelogReader(slice: ChangelogSlice, hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {
  import PgCdcSim.CdcRow

  /** Footer schema of the changelog (first data file under `path`);
    * None for an empty directory. Needed to build column projections
    * that preserve the file's exact physical types/annotations.
    * Lazy: one directory listing + footer open per READER, not per
    * pass — three passes re-listing an object store would dominate
    * small-batch latency.
    */
  private lazy val changelogSchema: Option[MessageType] = {
    val p = new Path(slice.path)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) None
    else {
      val dataFiles =
        if (!fs.getFileStatus(p).isDirectory) Array(p)
        else fs.listStatus(p).map(_.getPath)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .sortBy(_.toString)
      dataFiles.headOption.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, hadoopConf))
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
    }
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

  /** Spark's DEFAULT parquet timestamp output is INT96 (julian-day +
    * nanos-of-day, no logical annotation) — any Spark-written
    * changelog (e.g. the GenScale 10× events set, or a real pipeline
    * re-materializing the feed) carries it, while the driver fixture
    * uses annotated INT64. Caught by the r15 streaming scale probe:
    * `getLong("ts")` on an INT96 column throws ClassCastException in
    * the executor. Physical type is read from the footer once. */
  private lazy val tsIsInt96: Boolean = changelogSchema.exists { s =>
    s.containsField("ts") && {
      val t = s.getType(s.getFieldIndex("ts"))
      t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96
    }
  }

  /** ts of `g` in µs since epoch, handling both physical encodings. */
  private def tsMicrosOf(g: Group): Long =
    if (tsIsInt96) {
      // INT96 layout: 8 bytes nanos-of-day + 4 bytes julian day, both
      // little-endian (the layout every parquet writer emits and
      // Spark's own ParquetRowConverter decodes)
      val buf = java.nio.ByteBuffer.wrap(g.getInt96("ts", 0).getBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val nanosOfDay = buf.getLong
      val julianDay = buf.getInt
      (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
    } else tsRawToMicros(g.getLong("ts", 0))

  /** One filtered, column-projected pass over the changelog. */
  private def scanPass(cols: Seq[String], pred: FilterPredicate)
      (f: Group => Unit): Unit =
    changelogSchema.foreach { schema =>
      val conf = new Configuration(hadoopConf)
      val projection = new MessageType("graft_changelog_projection",
        cols.map(c => schema.getType(schema.getFieldIndex(c))): _*)
      conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new Path(slice.path))
        .withConf(conf)
        .withFilter(FilterCompat.get(pred))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          ChangelogReadMetrics.recordsMaterialized.increment()
          f(g)
          g = reader.read()
        }
      } finally reader.close()
    }

  private def mineKey(key: Long): Boolean =
    math.floorMod(key, slice.numPartitions.toLong) == slice.partId

  private lazy val rows: Array[CdcRow] = {
    val seqCol = FilterApi.longColumn("event_id")
    val keyCol = FilterApi.longColumn("user_id")

    // History: which of my keys already changed at or before `start`?
    // (A key's op depends only on EARLIER seqs, so seq ≤ start is
    // sufficient history for every row in the slice.) Preferred
    // source: this partition's bucket of the stream's first-seen key
    // index — O(keys/partition). Fallback (batch path / no sidecar):
    // a 2-column prefix pass over the changelog itself.
    val seenBefore = scala.collection.mutable.HashSet.empty[Long]
    if (slice.start >= 0L) slice.firstSeenDir match {
      case Some(idx) =>
        val bucket = new Path(s"$idx/part=${slice.partId}")
        if (bucket.getFileSystem(hadoopConf).exists(bucket)) {
          val reader = ParquetReader
            .builder(new GroupReadSupport(), bucket)
            .withConf(new Configuration(hadoopConf))
            .withFilter(FilterCompat.get(
              FilterApi.ltEq(FilterApi.longColumn("first_seq"),
                Long.box(slice.start))))
            .build()
          try {
            var g = reader.read()
            while (g != null) {
              ChangelogReadMetrics.recordsMaterialized.increment()
              seenBefore += g.getLong("user_id", 0)
              g = reader.read()
            }
          } finally reader.close()
        }
      case None =>
        scanPass(Seq("event_id", "user_id"),
            FilterApi.ltEq(seqCol, Long.box(slice.start))) { g =>
          val key = g.getLong("user_id", 0)
          if (mineKey(key)) seenBefore += key
        }
    }

    // full-width output pass, clipped to (start, end] at the scan
    val mine = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, String, java.lang.Double)]
    scanPass(Seq("event_id", "user_id", "ts", "event_type", "value"),
        FilterApi.and(FilterApi.gt(seqCol, Long.box(slice.start)),
          FilterApi.ltEq(seqCol, Long.box(slice.end)))) { g =>
      val key = g.getLong("user_id", 0)
      if (mineKey(key)) {
        val tsUs = tsMicrosOf(g)
        val et = if (g.getFieldRepetitionCount("event_type") == 0) null
                 else g.getString("event_type", 0)
        val v: java.lang.Double =
          if (g.getFieldRepetitionCount("value") == 0) null
          else g.getDouble("value", 0)
        mine += ((g.getLong("event_id", 0), key, tsUs, et, v))
      }
    }
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val data = mine.sortBy(_._1).toArray.map { case (seq, key, tsUs, et, v) =>
      val op = if (!seenBefore.contains(key) && seen.add(key)) "I" else "U"
      CdcRow(seq, key, op, tsUs, et, v)
    }

    // tombstone pass: seq range (start, end] ∩ (maxDataSeq, ∞) maps
    // 1:1 to key range (start-maxDataSeq-1, end-maxDataSeq-1] — push
    // THAT down and read only (user_id, ts) of the affected keys
    val tombs =
      if (!slice.deletes || slice.maxDataSeq < 0L ||
          slice.end <= slice.maxDataSeq) Array.empty[CdcRow]
      else {
        val kLo = if (slice.start < 0L) -1L
                  else slice.start - slice.maxDataSeq - 1L // exclusive
        val kHi = if (slice.end == Long.MaxValue) Long.MaxValue
                  else slice.end - slice.maxDataSeq - 1L // inclusive
        val maxTsUs = scala.collection.mutable.HashMap.empty[Long, Long]
        scanPass(Seq("user_id", "ts"),
            FilterApi.and(FilterApi.gt(keyCol, Long.box(kLo)),
              FilterApi.ltEq(keyCol, Long.box(kHi)))) { g =>
          val key = g.getLong("user_id", 0)
          if (mineKey(key) && PgCdcSim.isDeletedKey(key)) {
            val tsUs = tsMicrosOf(g)
            maxTsUs.updateWith(key)(p =>
              Some(math.max(p.getOrElse(Long.MinValue), tsUs)))
          }
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
  override def close(): Unit = ()
}
