package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned atomic publish for small index-metadata tables
  * (centroids, codebooks): each writer lays a FRESH `v<N>` dir and
  * readers resolve the highest version whose commit marker exists —
  * a mutation in progress (or crashed) is invisible and the previous
  * metadata stays fully readable. The marker is our OWN file, created
  * after every data write completes: Spark's `_SUCCESS` is optional
  * (cloud committers often disable marksuccessfuljobs) and must not
  * gate readability. The version BEFORE the new one is retained for
  * in-flight readers; older ones are GC'd at publish.
  *
  * Shared by [[IvfIndex]] (centroids, codebooks, cell encoding and
  * cells dir as one consistent meta version) and [[NeighborGraphAnn]]
  * (edges+vectors).
  */
private[api] object Versioned {

  val CommitMarker = "_graft_committed"

  private[api] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version numbers under `dir`, ascending. */
  def committed(fs: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).map(_.getPath)
      .filter(d => d.getName.matches("v\\d+") &&
        fs.exists(new Path(d, CommitMarker)))
      .map(_.getName.stripPrefix("v").toLong).sorted.toSeq
  }

  /** Highest committed version dir, if any. */
  def current(spark: SparkSession, dir: String): Option[String] =
    committed(fs(spark, dir), dir).lastOption.map(v => s"$dir/v$v")

  /** Run `write` against the next `v<N>` dir, then commit it with the
    * marker and GC versions older than N-1. Returns the published dir.
    */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): String = {
    val f = fs(spark, dir)
    val n = committed(f, dir).lastOption.getOrElse(0L) + 1
    val vdir = s"$dir/v$n"
    // clear a stale partial from a crashed prior attempt at this N
    val vpath = new Path(vdir)
    if (f.exists(vpath)) f.delete(vpath, true)
    write(vdir)
    f.create(new Path(vdir, CommitMarker), true).close()
    committed(f, dir).filter(_ < n - 1).foreach { v =>
      f.delete(new Path(s"$dir/v$v"), true)
    }
    vdir
  }
}
