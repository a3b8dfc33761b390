package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.util.Publish

/** A stream's derived changelog, written once under its checkpoint:
  * one parquet file per key-hash partition (`part=<id>.parquet`),
  * sorted by seq, holding exactly the rows the raw [[ChangelogReader]]
  * derives for that partition over the whole log (op = I/U plus the
  * tombstones). Its columns are the changelog's own (`event_id`,
  * `user_id`, `ts` in µs, `event_type`, `value`) plus `op`, so one
  * record decoder ([[ChangelogRecordReadSupport]]) reads both. Row
  * groups hold at most `rowGroupRows` rows, so a slice's seq predicate
  * skips every group outside the slice.
  *
  * Build: one plain job with one task per partition, each running the
  * raw reader's derivation and writing its file. The session's Hadoop
  * conf travels to the tasks once, as a broadcast destroyed after the
  * job, and every file is opened on it. A task buffers one
  * partition's whole history, and the n tasks run together, so the
  * build holds up to the whole log in executor memory at once (the
  * raw snapshot read it replaces held only the snapshot's rows). The
  * data horizon comes from the changelog's footers
  * ([[ChangelogFiles.dataHorizon]]) and the overall horizon from the
  * seqs the tasks return, so the build is the only job.
  *
  * `_HORIZON` is written last, as one [[Publish]] file commit, and
  * records both horizons plus the changelog path and `deletes` flag
  * the files were built for; a directory without a readable, matching
  * marker is rebuilt, and one with it is reused as is. Reuse assumes
  * the changelog is immutable for the life of a checkpoint, as a
  * replay fixture is.
  */
final case class ChangelogSidecar(dir: String, rowGroupRows: Int) {
  import ChangelogSidecar._

  def partFile(partId: Int): String = s"$dir/part=$partId.parquet"

  /** Reuse or build the sidecar; returns (max data seq, max overall
    * seq incl. tombstones). Driver-side. */
  def open(path: String, numPartitions: Int, deletes: Boolean): (Long, Long) = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val marker = new Path(s"$dir/$Marker")
    val fs = marker.getFileSystem(conf)
    val identity = Map("path" -> path, "deletes" -> deletes.toString)
    // a marker that cannot be read (e.g. a checksum mismatch) is absent
    val recorded: Map[String, String] =
      scala.util.Try(Publish.readFile(fs, marker)).toOption.flatten
        .fold(Map.empty[String, String])(_.linesIterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap)
    val reused = for {
      maxDataSeq <- recorded.get("maxDataSeq").flatMap(_.toLongOption)
      maxAll <- recorded.get("maxAll").flatMap(_.toLongOption)
      if identity.forall { case (k, v) => recorded.get(k).contains(v) }
    } yield (maxDataSeq, maxAll)
    reused.getOrElse {
      fs.delete(new Path(dir), true)
      val maxDataSeq = ChangelogFiles.dataHorizon(path, conf)
      val hconf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
      val sidecar = this
      val lastSeqs =
        try spark.sparkContext
          .parallelize(0 until numPartitions, numPartitions)
          .setName(BuildRddName)
          .map(i => sidecar.writePart(
            ChangelogSlice(path, i, numPartitions, deletes, maxDataSeq), hconf.value.value))
          .collect()
        finally hconf.destroy()
      val maxAll = (maxDataSeq +: lastSeqs).max
      Publish.commitFile(fs, marker,
        (identity ++ Map("maxDataSeq" -> maxDataSeq.toString, "maxAll" -> maxAll.toString))
          .map { case (k, v) => s"$k=$v\n" }.mkString)
      (maxDataSeq, maxAll)
    }
  }

  /** Build task: derive `slice` (one partition) and write it; returns
    * the partition's last seq, -1 when it has no rows. */
  private def writePart(slice: ChangelogSlice, conf: Configuration): Long = {
    val rows = new ChangelogReader(slice, conf).rows
    val w = new RowWriter(HadoopOutputFile.fromPath(new Path(partFile(slice.partId)), conf))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withRowGroupRowCountLimit(rowGroupRows)
      .build()
    try rows.foreach(w.write) finally w.close()
    rows.lastOption.fold(-1L)(_.seq)
  }
}

object ChangelogSidecar {
  val Marker = "_HORIZON"
  val BuildRddName = "pg-cdc-sim changelog sidecar build"

  /** A sidecar in a fresh driver-local temporary directory, removed
    * when the JVM exits; its row groups are not capped. */
  def temporary(): ChangelogSidecar = {
    val dir = new Path(java.nio.file.Files.createTempDirectory("pg-cdc-sim-log").toUri)
    dir.getFileSystem(new Configuration()).deleteOnExit(dir)
    ChangelogSidecar(dir.toString, Int.MaxValue)
  }

  val schema: MessageType = Types.buildMessage()
    .required(INT64).named("event_id")
    .required(INT64).named("user_id")
    .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("op")
    .required(INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
    .named("ts")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
    .optional(DOUBLE).named("value")
    .named("pg_cdc_sim_changelog")
}

/** Writes [[PgCdcSim.CdcRow]]s in [[ChangelogSidecar.schema]]
  * straight to the record consumer, with no per-row object assembly. */
private class RowWriter(file: OutputFile)
    extends ParquetWriter.Builder[PgCdcSim.CdcRow, RowWriter](file) {
  override def self(): RowWriter = this
  override def getWriteSupport(conf: Configuration): WriteSupport[PgCdcSim.CdcRow] =
    new WriteSupport[PgCdcSim.CdcRow] {
      private var out: RecordConsumer = _
      override def init(conf: Configuration): WriteSupport.WriteContext =
        new WriteSupport.WriteContext(ChangelogSidecar.schema,
          java.util.Collections.emptyMap[String, String]())
      override def prepareForWrite(rc: RecordConsumer): Unit = out = rc
      private def field(name: String, index: Int)(add: => Unit): Unit = {
        out.startField(name, index); add; out.endField(name, index)
      }
      override def write(r: PgCdcSim.CdcRow): Unit = {
        out.startMessage()
        field("event_id", 0)(out.addLong(r.seq))
        field("user_id", 1)(out.addLong(r.key))
        field("op", 2)(out.addBinary(Binary.fromString(r.op)))
        field("ts", 3)(out.addLong(r.tsUs))
        if (r.eventType != null)
          field("event_type", 4)(out.addBinary(Binary.fromString(r.eventType)))
        if (r.value != null) field("value", 5)(out.addDouble(r.value.doubleValue))
        out.endMessage()
      }
    }
}

/** Seq range (start, end] of one partition's sidecar file. */
final case class SidecarSlice(file: String, start: Long, end: Long)
    extends InputPartition

/** Executor-side sidecar reader: one seq-range `FilterPredicate` read
  * of the slice's file, streamed row by row (the file is already in
  * seq order and already carries op and tombstones). */
class SidecarReader(slice: SidecarSlice, hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {
  private val reader = {
    val seq = FilterApi.longColumn("event_id")
    ChangelogFiles.openRecords(new Path(slice.file), hadoopConf,
      new ChangelogRecordReadSupport(ChangelogSidecar.schema, identity),
      FilterCompat.get(FilterApi.and(
        FilterApi.gt(seq, Long.box(slice.start)),
        FilterApi.ltEq(seq, Long.box(slice.end)))))
  }
  private var r: ChangelogRecord = _
  private var materialized = 0L

  override def next(): Boolean = {
    r = reader.read()
    if (r != null) materialized += 1
    r != null
  }
  override def get(): InternalRow =
    InternalRow(r.seq, r.key, UTF8String.fromString(r.op), r.tsUs,
      if (r.eventType == null) null else UTF8String.fromString(r.eventType),
      if (r.hasValue) r.value else null)
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    RecordsMaterialized.task(materialized)
  override def close(): Unit = reader.close()
}
