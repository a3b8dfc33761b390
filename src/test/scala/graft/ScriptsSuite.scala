package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The scripts under `scripts/` launch library mains by class name,
  * and README's file map names source files; a class or file deleted
  * or renamed must not leave either pointing at nothing. */
class ScriptsSuite extends AnyFunSuite {

  test("every graft class named in scripts/*.sh and scripts/*.py loads") {
    val scriptsDir = java.nio.file.Paths.get("scripts")
    val scripts = java.nio.file.Files.list(scriptsDir).iterator().asScala
      .filter(p => p.toString.endsWith(".sh") || p.toString.endsWith(".py")).toSeq
    val ClassName = """\bgraft\.[A-Za-z.]*[A-Z]\w*""".r
    val named = scripts.flatMap { p =>
      ClassName.findAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(p.getFileName.toString -> _)
    }.distinct
    assert(named.nonEmpty, s"no graft class named in ${scripts.mkString(", ")}")
    val loader = getClass.getClassLoader
    val missing = named.filter { case (_, cls) =>
      scala.util.Try(Class.forName(cls, false, loader)).isFailure
    }
    assert(missing.isEmpty,
      s"scripts name classes that do not load:\n${missing.map { case (s, c) => s"$s: $c" }.mkString("\n")}")
  }

  test("every *.scala file named in README.md exists under src/ or perfbench/") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val named = """\b\w+\.scala\b""".r.findAllIn(readme).toSet
    assert(named.nonEmpty, "README.md names no .scala file")
    val present = Seq("src", "perfbench").flatMap { d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".scala")).toSeq
    }.toSet
    val missing = named -- present
    assert(missing.isEmpty,
      s"README.md names files that do not exist: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("src/main commits files and versions only through util/Publish.scala") {
    val main = java.nio.file.Paths.get("src/main")
    val publisher = main.resolve("scala/graft/util/Publish.scala")
    // a rename, a Hadoop FileSystem create (a lowercase receiver: `fs.create(`,
    // not `Literal.create(`), or the primitive's temp suffix or commit marker
    val forbidden = Seq(
      "rename" -> """\.rename\(""".r,
      "FileSystem create" -> """(\b[a-z]\w*|\))\s*\.create\(""".r,
      "temp suffix" -> "\"[^\"\n]*\\.(inprogress|tmp)\\b".r,
      "commit marker" -> "_graft_committed".r)
    val sources = java.nio.file.Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != publisher).toSeq
    assert(sources.size > 50, s"found only ${sources.size} sources under $main")
    val hits = for {
      p <- sources
      (line, i) <- java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
      (what, re) <- forbidden if re.findFirstIn(line).isDefined
    } yield s"${main.relativize(p)}:${i + 1}: $what: ${line.trim}"
    assert(hits.isEmpty, s"publish outside util/Publish.scala:\n${hits.mkString("\n")}")
  }
}
