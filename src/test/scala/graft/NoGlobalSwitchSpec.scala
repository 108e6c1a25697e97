package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Engine behaviour is selected by session confs, never by JVM-global
  * mutable switches: no `@volatile … var` may appear anywhere in the
  * main sources, the `graft.tools` harnesses included. */
class NoGlobalSwitchSpec extends AnyFunSuite {

  test("no @volatile var in main sources") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    // annotation, then modifiers (possibly on the next line), then var
    val switch = """@volatile[\s\w\[\]]*?\bvar\b""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    assert(files.exists(_.startsWith(root.resolve("tools"))),
      "graft.tools is scanned too")
    val offenders = files.flatMap { (p: Path) =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      switch.findAllMatchIn(src).map { m =>
        s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    if (offenders.nonEmpty)
      fail(s"JVM-global mutable switches (use a session conf): ${offenders.mkString(", ")}")
  }
}
