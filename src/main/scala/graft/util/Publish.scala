package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way `src/main` makes a write durable and visible in one
  * step: write fresh, publish with one metadata step, GC the old.
  *  - Small files (manifests, markers): [[commitFile]] renames a
  *    dot-temp name onto a fresh final name, so readers see no file or
  *    the whole one, never a torn one; [[readFile]] reads it back. A
  *    value that changes over time is a new name (a new version), never
  *    a rewrite.
  *  - Numbered versions `dir/v<N>`: [[publish]] fills a fresh slot,
  *    then commits it with its own marker, created after every data
  *    write (Spark's `_SUCCESS` is optional on cloud committers and
  *    must not gate readability). [[current]] is the highest committed
  *    version, so a failed write is invisible. The version before the
  *    new one stays for in-flight readers; older ones are GC'd.
  */
object Publish {

  private val CommitMarker = "_graft_committed"
  private val TempSuffix = ".inprogress"

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `text` to the fresh name `path` atomically: a dot-temp
    * sibling, then one rename onto `path`. Throws, with the temp
    * removed, if the rename fails, e.g. because `path` already exists. */
  def commitFile(fs: FileSystem, path: Path, text: String): Unit = {
    val tmp = new Path(path.getParent, s".${path.getName}$TempSuffix")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not publish $path")
    }
  }

  /** The whole of a file [[commitFile]] wrote, or None when it does not
    * exist. Any other read failure (a checksum mismatch, a permission
    * error) throws: a marker that is there but unreadable is not
    * absent. */
  def readFile(fs: FileSystem, path: Path): Option[String] =
    (try Some(fs.open(path)) catch { case _: java.io.FileNotFoundException => None })
      .map { in =>
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      }

  /** Committed version numbers under `dir`, ascending. */
  private def versions(fs: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).map(_.getPath)
      .filter(d => d.getName.matches("v\\d+") &&
        fs.exists(new Path(d, CommitMarker)))
      .map(_.getName.stripPrefix("v").toLong).sorted.toSeq
  }

  /** Highest committed version dir under `dir`, if any. */
  def current(spark: SparkSession, dir: String): Option[String] =
    versions(fs(spark, dir), dir).lastOption.map(v => s"$dir/v$v")

  /** Run `write` against the next version's slot `dir/v<N>`, cleared
    * of any partial an earlier failed attempt at N left there, then
    * commit it with the marker and GC versions older than its
    * predecessor. A caller whose version owns data outside `dir` names
    * it after the slot (`v<N>`), so the two always pair. Returns the
    * published dir. */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): String = {
    val f = fs(spark, dir)
    val prior = versions(f, dir)
    val n = prior.lastOption.getOrElse(0L) + 1
    val vdir = s"$dir/v$n"
    f.delete(new Path(vdir), true)
    write(vdir)
    f.create(new Path(vdir, CommitMarker), true).close()
    prior.filter(_ < n - 1).foreach(v => f.delete(new Path(s"$dir/v$v"), true))
    vdir
  }
}
