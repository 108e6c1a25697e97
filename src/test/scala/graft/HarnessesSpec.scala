package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** README's Harnesses table lists every command-line main in the main
  * sources, and nothing else: a new main must be documented there, and
  * a deleted one must leave the table. */
class HarnessesSpec extends AnyFunSuite {

  /** `package.Object` for every object under `root` that declares a
    * `def main`: the nearest `object` opened before each `def main`. */
  private def mains(root: Path): Set[String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val pkg = """(?m)^package\s+([\w.]+)""".r
          .findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
        val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).toSeq
        """\bdef main\s*\(""".r.findAllMatchIn(src).flatMap { m =>
          objects.filter(_.start < m.start).lastOption.map(pkg + _.group(1))
        }
      }.toSet

  /** The `runMain` targets named in README's `## Harnesses` section. */
  private def documented(readme: String): Set[String] = {
    val section = readme.split("(?m)^## ").find(_.startsWith("Harnesses"))
    assert(section.isDefined, "README has no ## Harnesses section")
    """runMain\s+(graft[\w.]*\w)""".r.findAllMatchIn(section.get)
      .map(_.group(1)).toSet
  }

  test("README's Harnesses table names exactly the mains in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val found = mains(root)
    assert(found.contains("graft.Bench"), s"main scan found only $found")
    val listed = documented(
      new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8"))
    val undocumented = (found -- listed).toSeq.sorted
    val stale = (listed -- found).toSeq.sorted
    assert(undocumented.isEmpty && stale.isEmpty,
      s"mains missing from README's Harnesses table: $undocumented; " +
        s"rows naming no main: $stale")
  }
}
