package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // session-build extension point: analyzer-injected range_bin
      // hint resolution (runtime install() cannot add analyzer rules)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // static conf: keep saveAsTable outputs out of the repo dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // uniform timestamp flavor regardless of suite execution order
    // (the events read confs are session-sticky; see Verify)
    Tables.setEventsReadConfs(s)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf0001: String = SparkTestBase.sf0001

  protected val rocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the RocksDB state store provider, then restore
    * the session's previous provider. Spark requires RocksDB for
    * `transformWithState`, so every StreamzStateOps query runs here. */
  protected def withRocksDb[T](body: => T): T = withConfs(rocksDbProvider)(body)

  /** Run `body` with `confs` set on the shared session, then restore
    * each to its previous value (or unset it), so no test leaks a conf
    * into the tests that run after it. */
  protected def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
