package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A `foreachBatch` frame re-runs the trigger's whole incremental plan,
  * state store included, on every action, so a sink runs one action
  * per trigger: no `batch.isEmpty` probe may appear anywhere in the
  * main sources. The sinks' writes are their own emptiness checks —
  * an empty JDBC upsert opens no connection, an empty partitioned
  * append adds no data file, an empty CDC merge writes no stage. */
class SingleActionSpec extends AnyFunSuite {

  test("no batch.isEmpty in main sources") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val offenders = files.flatMap { (p: Path) =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      """\bbatch\.isEmpty\b""".r.findAllMatchIn(src).map { m =>
        s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
    if (offenders.nonEmpty)
      fail(s"emptiness probes that re-run the batch (let the write check): ${offenders.mkString(", ")}")
  }
}
