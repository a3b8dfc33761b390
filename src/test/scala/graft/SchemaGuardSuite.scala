package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.functions._

/** Guard against fixture schema drift (VERDICT r10): the driver has
  * shipped `events.ts` as BOTH parquet TIMESTAMP(NANOS) (rounds ≤9)
  * and TIMESTAMP(MICROS, isAdjustedToUTC=false) (r10 regen). Every
  * reader must yield IDENTICAL µs timestamps on either flavor:
  *
  *  - `Tables.events` (the Spark path — on a wrong branch it at least
  *    throws an AnalysisException);
  *  - `PgCdcSim.loadChangelog` (Spark read, driver-side oracle);
  *  - the pg-cdc-sim DSv2 source, whose `ChangelogReader` reads raw
  *    int64 via parquet-mr — a wrong unit there is SILENT 1000×
  *    corruption, which is why this suite exists.
  */
class SchemaGuardSuite extends GraftSuite {

  // µs instants with a deliberately non-zero sub-ms tail; the ns file
  // adds a sub-µs residue (+829 ns) that must truncate away.
  private val baseUs = 1704067798778549L
  private val rowsUs: Seq[(Long, Long, Long, String, java.lang.Double)] =
    (0 until 10).map { i =>
      (i.toLong, baseUs + i * 61000001L, (i % 3).toLong,
        Seq("click", "purchase", "view")(i % 3),
        if (i == 4) null else java.lang.Double.valueOf(i * 1.5 + 0.25))
    }

  private def writeEvents(file: String, unit: TimeUnit): Unit = {
    val tsAnn = LogicalTypeAnnotation.timestampType(false, unit)
    val schema: MessageType = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(tsAnn).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val fac = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    try rowsUs.foreach { case (id, us, uid, et, v) =>
      val g = fac.newGroup()
      g.add("event_id", id)
      g.add("ts", if (unit == TimeUnit.NANOS) us * 1000L + 829L else us)
      g.add("user_id", uid)
      g.add("event_type", et)
      if (v != null) g.add("value", v.doubleValue())
      g.add("props", s"""{"k": $id}""")
      w.write(g)
    } finally w.close()
  }

  private lazy val (nsDir, usDir) = {
    val root = java.nio.file.Files.createTempDirectory("schema_guard").toString
    val (n, u) = (s"$root/ns", s"$root/us")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(n))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(u))
    writeEvents(s"$n/events.parquet", TimeUnit.NANOS)
    writeEvents(s"$u/events.parquet", TimeUnit.MICROS)
    (n, u)
  }

  /** The same rows as Spark writes them by default: INT96 `ts`. */
  private lazy val i96Dir = {
    val root = java.nio.file.Files.createTempDirectory("schema_guard_i96").toString
    val sess = spark; import sess.implicits._
    val df = rowsUs.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), expr("timestamp_micros(ts_us)").as("ts"),
        col("user_id"), col("event_type"), col("value"),
        concat(lit("{\"k\": "), col("event_id"), lit("}")).as("props"))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try df.coalesce(1).write.mode("overwrite").parquet(s"$root/events.parquet")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    root
  }

  test("Tables.events yields identical µs timestamps on ns- and µs-typed fixtures") {
    val want = rowsUs.map(_._2)
    def got(dir: String): Seq[Long] =
      Tables.events(spark, dir).orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(got(nsDir) == want, "ns fixture: ns→µs truncation drifted")
    assert(got(usDir) == want, "µs fixture: raw micros not preserved")
    // and the OUTPUT type is TimestampType on both branches (driver
    // schema_match compares flavors — NTZ would flip it)
    for (d <- Seq(nsDir, usDir))
      assert(Tables.events(spark, d).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
  }

  test("PgCdcSim.loadChangelog identical on both flavors") {
    val ns = sources.PgCdcSim.loadChangelog(s"$nsDir/events.parquet")
    val us = sources.PgCdcSim.loadChangelog(s"$usDir/events.parquet")
    assert(ns.toSeq == us.toSeq)
    assert(ns.map(_.tsUs).toSeq == rowsUs.map(_._2))
  }

  test("pg-cdc-sim DSv2 batch read (raw parquet-mr ChangelogReader) identical on both flavors") {
    def got(dir: String) =
      spark.read.format("pg-cdc-sim")
        .option("path", s"$dir/events.parquet").load()
        .orderBy("seq")
        .select(col("seq"), unix_micros(col("ts")).as("ts_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ns = got(nsDir)
    val us = got(usDir)
    assert(ns == us, "raw reader unit drift would be SILENT 1000× corruption")
    assert(us == rowsUs.map(r => (r._1, r._2)),
      "raw int64 must be interpreted per the footer's timestamp unit")
  }

  test("pg-cdc-sim raw reader handles Spark's INT96 timestamp output (r15: GenScale-shaped changelog)") {
    // Spark's DEFAULT parquet timestamp physical type is INT96
    // (julian day + nanos-of-day, unannotated) — the r15 streaming
    // scale probe crashed the executor with ClassCastException the
    // first time the CDC source met a Spark-WRITTEN changelog (the
    // GenScale 10× events). Pin: a Spark INT96 file round-trips to
    // the identical µs instants through the raw parquet-mr reader.
    val got = spark.read.format("pg-cdc-sim")
      .option("path", s"$i96Dir/events.parquet").load()
      .orderBy("seq")
      .select(col("seq"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == rowsUs.map(r => (r._1, r._2)),
      "INT96 julian-day+nanos must decode to the same µs instants")
  }

  test("pg-cdc-sim stream (sidecar) identical on ns, µs and INT96 flavors") {
    // the stream serves every batch from its sidecar, which stores ts
    // re-encoded as µs: a unit slip in the build would be the same
    // silent 1000× error, only behind a checkpoint
    def streamed(dir: String): Seq[(Long, Long)] = {
      val got = scala.collection.concurrent.TrieMap.empty[Long, Long]
      val q = spark.readStream.format("pg-cdc-sim")
        .option("path", s"$dir/events.parquet")
        .option("batchSize", "3").option("snapshotSeq", "3")
        .option("numPartitions", "2").load()
        .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("schema_guard_cp").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select(col("seq"), unix_micros(col("ts"))).collect()
            .foreach(r => got(r.getLong(0)) = r.getLong(1))
          ()
        }.start()
      q.awaitTermination(120000)
      got.toSeq.sorted
    }
    val want = rowsUs.map(r => (r._1, r._2))
    assert(streamed(usDir) == want, "µs fixture: raw micros not preserved")
    assert(streamed(nsDir) == want, "ns fixture: ns→µs truncation drifted")
    assert(streamed(i96Dir) == want, "INT96 fixture: julian-day+nanos decode drifted")
  }
}
