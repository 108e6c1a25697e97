package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Rename-based commits exist once: no `.rename(` may appear in the
  * main sources outside `graft/io/Commit.scala`. A caller that needs
  * to replace a file or a tree goes through `graft.io.Commit`, which
  * owns the park/stage names and the healing of a crashed swap. */
class SingleCommitSpec extends AnyFunSuite {

  test("no .rename( in engine sources outside graft.io.Commit") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val commit = root.resolve("io/Commit.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != commit).toSeq
    assert(files.nonEmpty)
    val offenders = files.flatMap { (p: Path) =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      """\.rename\(""".r.findAllMatchIn(src).map { m =>
        s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    if (offenders.nonEmpty)
      fail(s"hand-rolled rename commits (use graft.io.Commit): ${offenders.mkString(", ")}")
  }
}
