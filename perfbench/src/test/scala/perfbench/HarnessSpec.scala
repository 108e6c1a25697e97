package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The harness's own arithmetic: what it reports has to be right before
  * any number it prints can be trusted. Run with `sbt test` from the
  * perfbench directory. */
class HarnessSpec extends AnyFunSuite {

  test("percentile interpolates linearly and carries its sample count") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50).contains(Stats.Pct(50.5, 100)))
    assert(Stats.percentile(xs, 99).contains(Stats.Pct(99.01, 100)))
    assert(Stats.percentile(Seq(7.0), 99).contains(Stats.Pct(7.0, 1)))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("chunk sizes follow the cumulative due count, so the rate never drifts") {
    val sizes = (0L until 50L).map(OpenLoop.rowsInChunk(333.0, 20.0, _))
    assert(sizes.sum == 333) // 50 chunks × 20 ms = 1 s at 333 rows/s
    assert(sizes.forall(n => n == 6 || n == 7))
  }

  test("stream offset maps to the chunk's due time and the committing batch's end") {
    val chunks = Seq(
      OpenLoop.Chunk("fixed", 0, dueMs = 1000.0, sentMs = 1000.5, rows = 3),
      OpenLoop.Chunk("fixed", 1, dueMs = 1020.0, sentMs = 1025.0, rows = 2),
      OpenLoop.Chunk("fixed", 2, dueMs = 1040.0, sentMs = 1040.1, rows = 4),
      OpenLoop.Chunk("fixed", 3, dueMs = 1060.0, sentMs = 1060.1, rows = 1))
    // batch A commits offsets (-1, 1] and ends at 1100; batch B (1, 2] at 1250;
    // offset 3 is never committed
    val lat = OpenLoop.rowLatencies(chunks, Seq((1L, 2L, 1250.0), (-1L, 1L, 1100.0)))
    assert(lat.map { case (c, l) => (c.offset, l) } == Seq((0L, 100.0), (1L, 80.0), (2L, 210.0)))
    // latency is from the due time, not the (late) send time
    val perRow = lat.flatMap { case (c, l) => Seq.fill(c.rows)(l) }
    assert(perRow.size == 9)
    assert(Stats.percentile(perRow, 50).map(_.value).contains(100.0))
  }

  test("backlog counts rows sent but not yet committed at each send") {
    val chunks = (0 until 5).map(i => OpenLoop.Chunk("fixed", i, i * 10.0, i * 10.0 + 1, 10))
    // one batch commits offsets through 1 at 25 ms, another through 4 at 100 ms
    val series = Streams.backlogSeries(chunks, Seq((4L, 100.0), (1L, 25.0)))
    assert(series == Seq(10L, 20L, 30L, 20L, 30L))
    assert(Streams.backlogSeries(chunks, Nil) == Seq(10L, 20L, 30L, 40L, 50L))
  }

  test("a backlog that grows over a few batches marks the fixed rate unsustainable") {
    // 100 rows every 20 ms (5,000 rows/s) for 2 s; four batches end at
    // 0.5, 1.0, 1.5 and 2.0 s
    val chunks = (0 until 100).map(i => OpenLoop.Chunk("fixed", i, i * 20.0, i * 20.0, 100))
    val ends = Seq(500.0, 1000.0, 1500.0, 2000.0)
    // keeping up: each batch commits everything sent before its trigger began
    val keepUp = ends.map(e => (((e - 250) / 20).toLong, e))
    // falling behind: each batch commits only 100 ms more of input
    val behind = ends.zipWithIndex.map { case (e, k) => ((k + 1) * 5L, e) }
    assert(!Streams.unsustainable(Streams.backlogSeries(chunks, keepUp), 5000.0))
    assert(Streams.unsustainable(Streams.backlogSeries(chunks, behind), 5000.0))
    // too short a series to judge
    assert(!Streams.unsustainable(Seq(0L, 0L, 100L, 1000L, 9000L), 10.0))
  }

  test("self time subtracts the union of overlapping children") {
    val t = new Trace(enabled = true)
    val root = t.record("catalog.entry", "q/warm1", 0L, 100L, None)
    t.record("catalog.prep", "q/warm1", 10L, 50L, Some(root))
    t.record("catalog.exec", "q/warm1", 40L, 90L, Some(root)) // overlaps prep by 10
    val self = Trace.selfTimes(t.all)
    assert(self(root) == 100L - 80L)
    assert(t.all.filter(_.parent.isDefined).map(s => self(s.id)).toSet == Set(40L, 50L))
    // overlapping siblings both claim [40, 50): the partition is off by it
    assert(Trace.reconcileErrorNs(t.all)(root) == 10L)
  }

  test("nested, non-overlapping spans partition the request's wall time") {
    val t = new Trace(enabled = true)
    val (_, _) = t.span("catalog.entry", "q/cold") {
      t.span("catalog.prep", "q/cold")(Thread.sleep(2))
      t.span("catalog.exec", "q/cold")(Thread.sleep(2))
    }
    assert(t.all.size == 3)
    assert(Trace.reconcileErrorNs(t.all).values.forall(_ == 0L))
    assert(new Trace(enabled = false).span("x", "r")(42)._1 == 42)
  }

  test("driver gap is wall time outside the union of stage intervals") {
    val stages = Seq((10L, 30L), (20L, 40L), (60L, 70L), (95L, 120L))
    assert(Stats.covered(stages, 0L, 100L) == 30L + 10L + 5L)
    assert(Stats.driverGap(stages, 0L, 100L) == 55L)
    assert(Stats.driverGap(Nil, 5L, 9L) == 4L)
  }

  test("catalog completion times accumulate service times in order") {
    assert(Catalog.completionTimes(Seq(400.0, 100.0, 250.0)) == Seq(400.0, 500.0, 750.0))
    assert(Catalog.completionTimes(Nil).isEmpty)
    // the p50 of seven completion times is the fourth one
    val done = Catalog.completionTimes(Seq(7.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(Stats.percentile(done, 50).get == Stats.Pct(13.0, 7))
  }

  test("the measured catalog entries exist and are LLM-operator entries") {
    val names = SparkEntry.queries.keySet ++ SparkEntry.benchQueries.keySet
    assert(names.size == SparkEntry.queries.size + SparkEntry.benchQueries.size,
      "a bench entry shadows a catalog entry")
    assert(Catalog.Entries.nonEmpty && Catalog.Entries.distinct == Catalog.Entries)
    Catalog.Entries.foreach { n =>
      assert(names(n), s"$n is not a catalog entry")
      assert(Catalog.isLlm(n), s"$n is not an LLM-operator entry")
    }
  }

  test("every per-layer metric has a unit and a family name maps into the layer list") {
    val layers = Layers.all.map(_._1).toSet
    assert(layers.size == Layers.all.size)
    val names = SparkEntry.queries.keySet ++ SparkEntry.benchQueries.keySet
    names.filter(Catalog.isLlm).foreach(n => assert(layers(Catalog.family(n)), n))
    assert(Catalog.Entries.map(Catalog.family).toSet ==
      Set("ops.similarity_s", "ops.dedup_s", "ops.text_s", "ops.multimodal_s"))
  }
}
