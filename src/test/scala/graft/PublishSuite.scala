package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import graft.util.Publish

/** The publish primitive every durable commit in the library goes
  * through: numbered versions with a commit marker, and small files
  * committed by one rename. */
class PublishSuite extends GraftSuite {

  test("Publish: a failed version write leaves the current version live, the retry takes its slot, GC keeps the retained versions; committed files read back exactly, as None when missing, and throw when unreadable") {
    val dir = Files.createTempDirectory("publish").toString + "/t"
    val fs = Publish.fs(spark, dir)
    def payload(vdir: String) = new String(Files.readAllBytes(Paths.get(vdir, "payload")), UTF_8)
    def onDisk = Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.matches("v\\d+")).sorted
    // (publish attempt, its write fails, published dir, current after, version dirs after)
    val steps = Seq(
      ("a", false, Some("v1"), "v1", Seq("v1")),
      ("b", false, Some("v2"), "v2", Seq("v1", "v2")),
      ("c", true, None, "v2", Seq("v1", "v2", "v3")),
      ("d", false, Some("v3"), "v3", Seq("v2", "v3")),
      ("e", false, Some("v4"), "v4", Seq("v3", "v4")))
    val payloads = scala.collection.mutable.Map[String, String]()
    for ((name, fails, published, current, dirs) <- steps) {
      val got = scala.util.Try(Publish.publish(spark, dir) { vdir =>
        Files.createDirectories(Paths.get(vdir))
        if (fails) {
          Files.write(Paths.get(vdir, "partial"), Array[Byte](1))
          throw new java.io.IOException(s"write $name failed")
        }
        Files.write(Paths.get(vdir, "payload"), name.getBytes(UTF_8))
      })
      assert(got.toOption == published.map(v => s"$dir/$v"), s"publish $name: $got")
      if (!fails) payloads(published.get) = name
      assert(Publish.current(spark, dir).contains(s"$dir/$current"), s"after $name")
      assert(payload(s"$dir/$current") == payloads(current), s"current version after $name")
      assert(onDisk == dirs, s"version dirs after $name")
    }
    assert(!Files.exists(Paths.get(dir, "v3", "partial")),
      "the retry must clear the failed attempt's partial from its slot")

    // (file, how it is written, what readFile returns: the text, None, or what it throws)
    val text = "numBuckets=16\nschema={\"ü\":1}\n0\tdata/m1"
    def commit(p: Path, s: String): Unit = Publish.commitFile(fs, p, s)
    def breakChecksum(p: Path): Unit = // same length, other bytes: the .crc no longer matches
      Files.write(Paths.get(p.toUri.getPath), "54321".getBytes(UTF_8))
    val files: Seq[(String, Path => Unit, String)] = Seq(
      ("round-trip", commit(_, text), text),
      ("empty", commit(_, ""), ""),
      ("committed twice", p => {
        commit(p, "1")
        intercept[java.io.IOException](commit(p, "12")) // a name is committed once
      }, "1"),
      ("missing", _ => (), "None"),
      ("checksum-broken", p => { commit(p, "12345"); breakChecksum(p) }, "ChecksumException"))
    for ((name, write, want) <- files) {
      val p = new Path(s"$dir/files/$name")
      write(p)
      val got = scala.util.Try(Publish.readFile(fs, p)) match {
        case scala.util.Success(read) => read.getOrElse("None")
        case scala.util.Failure(e) => e.getClass.getSimpleName
      }
      assert(got == want, name)
    }
    assert(new java.io.File(s"$dir/files").list().forall(!_.contains(".inprogress")),
      "a commit leaves no temp file behind")
  }

  test("StreamDecon epoch marker: each fresh lineage publishes a new version, a resume reads the current one, and a checksum-broken one fails the resume") {
    val root = Files.createTempDirectory("decon_epoch").toString
    val table = s"$root/table" // never written: no stored order, so the base is 0
    val fresh = Files.createTempDirectory("decon_epoch_fresh").toString
    val resumed = Files.createTempDirectory("decon_epoch_resumed").toString
    Files.createDirectories(Paths.get(resumed, "offsets"))
    Files.write(Paths.get(resumed, "offsets", "0"), Array[Byte](0))
    def base(cp: String) = graft.api.StreamDecon.resolveEpochBase(spark, Seq(table), cp)
    assert(base(fresh) == 0L && base(fresh) == 0L, "two fresh lineages")
    assert(Publish.current(spark, s"$table/_decon_epoch").contains(s"$table/_decon_epoch/v2"),
      "each fresh lineage publishes its base as a new version, never a rewrite")
    assert(base(resumed) == 0L)
    Files.write(Paths.get(table, "_decon_epoch", "v2", "base"), "7".getBytes(UTF_8))
    val e = intercept[org.apache.hadoop.fs.ChecksumException](base(resumed))
    assert(e.getMessage.contains("_decon_epoch"),
      "an unreadable marker must fail the resume, not read as base 0")
  }
}
