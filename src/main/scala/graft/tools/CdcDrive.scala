package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Demo driver for the `pg-cdc-sim` source: batch read, a quantum-
  * limited streaming replay, and latest-state materialization —
  * `sbt "runMain graft.tools.CdcDrive [sfDir]"`.
  */
object CdcDrive {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .appName("cdc-drive")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val path = s"$dir/events.parquet"
    val batch = spark.read.format("pg-cdc-sim").option("path", path).load()
    println(s"[cdc-drive] batch read: ${batch.count()} change rows")
    batch.show(3, truncate = false)

    val q = spark.readStream.format("pg-cdc-sim")
      .option("path", path)
      .option("batchSize", "150")
      .option("snapshotSeq", "299")
      .load()
      .writeStream.format("memory").queryName("cdc_drive")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    println(s"[cdc-drive] micro-batch sizes: ${sizes.mkString(", ")}")
    println(s"[cdc-drive] total replayed: ${spark.table("cdc_drive").count()}")

    spark.table("cdc_drive").createOrReplaceTempView("changes")
    println("[cdc-drive] latest state per key (first 5):")
    spark.sql(
      """SELECT key, max_by(event_type, seq) AS cur_type, max(seq) AS last_seq
        |FROM changes GROUP BY key ORDER BY key LIMIT 5""".stripMargin)
      .show(truncate = false)

    // table replication with delete tombstones through the first-class
    // keyed-upsert sink
    import graft.api.StreamzOps._
    val base = java.nio.file.Files.createTempDirectory("cdc_drive_sink").toString
    val up = spark.readStream.format("pg-cdc-sim")
      .option("path", path)
      .option("batchSize", "150").option("snapshotSeq", "299")
      .option("deletes", "true")
      .load()
      .sinkUpsert(s"$base/state", Seq("key"), "seq", s"$base/cp", opCol = Some("op"))
    up.awaitTermination(120000)
    up.exception.foreach(e => throw e)
    // the table dir is a manifest-managed layout (manifest/,
    // data/m<N>/_bp=<K>): read it through its manifest, never as a
    // plain parquet dir
    val state = readUpsertTable(spark, s"$base/state")
    val survivors = state.filter("key % 10 = 7").count()
    println(s"[cdc-drive] replicated table: ${state.count()} live keys " +
      s"(tombstoned keys dropped: $survivors remain)")
    if (survivors != 0)
      throw new IllegalStateException(s"$survivors tombstoned keys survived the upsert")
    spark.stop()
  }
}
