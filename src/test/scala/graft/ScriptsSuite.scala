package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The scripts under `scripts/` launch library mains by class name;
  * a class deleted or renamed in `src/main` must not leave a script
  * pointing at nothing. */
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
}
