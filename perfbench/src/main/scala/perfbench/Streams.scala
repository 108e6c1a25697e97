package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQuery

/** The part of the two open-loop workloads that does not depend on the
  * pipeline: warm-up, the fixed-rate phase, the saturating bursts, drains,
  * and the end-to-end and per-layer numbers derived from the generator's
  * chunks and the stream probe's batches. */
object Streams {

  val ChunkMs = 20.0

  final case class Outcome(e2e: Map[String, Metric], layers: Map[String, Double],
                           valid: Boolean, note: String)

  /** Runs one stream: `start` launches the query over a source fed by
    * `send` (n rows → source offset). `warmRows` are sent and drained
    * first; how long that takes from `start` is `cold_s`. Then
    * `warmTriggers` more untimed triggers, the fixed-rate phase for the
    * run's seconds, a drain, then `bursts` bursts of `burstRows` rows,
    * each sent at once when the one before it is committed.
    * `addBatchLayer` names the layer that runs inside `addBatch` (the
    * sink or the admission step). */
  def run(ctx: Ctx, fixedRate: Double, bursts: Int, burstRows: Int, warmRows: Int,
          warmTriggers: Int, send: Int => Long,
          start: () => StreamingQuery, addBatchLayer: String): Outcome = {
    val fixed = OpenLoop.Phase("fixed", ctx.seconds, fixedRate)

    val t0 = System.nanoTime()
    val q = start()
    var chunks: Seq[OpenLoop.Chunk] = Nil
    try {
      val coldOffset = send(warmRows)
      q.processAllAvailable()
      val coldS = (System.nanoTime() - t0) / 1e9
      // a few more untimed triggers, so the measured phases start with
      // the trigger path compiled rather than mid-JIT
      val warmOffset = (1 to warmTriggers).foldLeft(coldOffset) { (_, _) =>
        val o = send(warmRows)
        q.processAllAvailable()
        o
      }
      // each burst goes to a drained, idle query, so it is committed by
      // exactly one batch whatever the trigger times were before it
      val gen = new Thread(() => {
        val fixedChunks = OpenLoop.run(Seq(fixed), ChunkMs, send)
        q.processAllAvailable()
        chunks = fixedChunks ++ (1 to bursts).map { _ =>
          val sentMs = Trace.toEpochMs(System.nanoTime().toDouble)
          val c = OpenLoop.Chunk("saturation", send(burstRows), sentMs, sentMs, burstRows)
          q.processAllAvailable()
          c
        }
      }, "perfbench-generator")
      val genStartMs = System.currentTimeMillis()
      gen.start()
      gen.join()
      val genEndMs = System.currentTimeMillis()
      q.processAllAvailable()
      q.stop()
      ctx.probes.drain()
      summarize(ctx, chunks, ctx.probes.stream.all.filter(_.endOffset > warmOffset),
        fixedRate, coldS, genStartMs, genEndMs, addBatchLayer)
    } finally if (q.isActive) q.stop()
  }

  /** The backlog each chunk finds as it is sent: rows offered up to and
    * including it that no batch had committed by its send time.
    * `commits` are the batches' (end offset, end time in epoch ms);
    * chunk offsets increase in send order. */
  def backlogSeries(chunks: Seq[OpenLoop.Chunk], commits: Seq[(Long, Double)]): IndexedSeq[Long] = {
    val cs = chunks.toIndexedSeq
    val cum = cs.scanLeft(0L)(_ + _.rows) // cum(i): rows in chunks before i
    val offsets = cs.map(_.offset).toArray
    val byEnd = commits.sortBy(_._2)
    var j = 0
    var committed = Long.MinValue
    cs.indices.map { i =>
      while (j < byEnd.size && byEnd(j)._2 <= cs(i).sentMs) {
        committed = math.max(committed, byEnd(j)._1)
        j += 1
      }
      // chunks whose offset is at or below the committed offset
      val done = java.util.Arrays.binarySearch(offsets, committed) match {
        case k if k >= 0 => k + 1
        case k => -k - 1
      }
      math.max(0L, cum(i + 1) - cum(math.min(done, i + 1)))
    }
  }

  /** A fixed rate is unsustainable when the backlog keeps growing: the
    * median of the series' last third is above twice that of its first
    * third plus half a second of input. */
  def unsustainable(series: Seq[Long], rate: Double): Boolean = {
    val third = series.size / 3
    third >= 3 &&
      Stats.median(series.takeRight(third).map(_.toDouble)) >
        2 * Stats.median(series.take(third).map(_.toDouble)) + rate * 0.5
  }

  private def summarize(ctx: Ctx, chunks: Seq[OpenLoop.Chunk],
                        batches: Seq[Probes.Batch], fixedRate: Double, coldS: Double,
                        genStartMs: Long, genEndMs: Long,
                        addBatchLayer: String): Outcome = {
    val ranges = batches.map(b => (b.startOffset, b.endOffset, b.endMs.toDouble))
    val lat = OpenLoop.rowLatencies(chunks.filter(_.phase == "fixed"), ranges)
    val samples = lat.flatMap { case (c, l) => Iterator.fill(c.rows)(l) }
    val satStartMs = chunks.find(_.phase == "saturation").map(_.dueMs)
      .getOrElse(genEndMs.toDouble)
    val fixedBatches = batches.filter(b => b.endMs <= satStartMs)
    // saturation throughput: the median over the bursts of rows over
    // trigger time of the batch that commits the burst (no-data batches,
    // which only move the watermark, may run between them and are left out)
    val satBatches = batches.filter(b => b.triggerStartMs >= satStartMs && b.inputRows > 0)
    val throughput = Stats.median(satBatches.map { b =>
      b.inputRows * 1000.0 / math.max(1L, b.durations.getOrElse("triggerExecution", 0L))
    })
    val trig = fixedBatches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)

    // validity: the fixed rate must be sustainable — the backlog each
    // fixed-phase chunk finds may not keep growing through the phase.
    // The series starts at the phase's first commit: before it the
    // backlog ramps up from empty, which is no sign of growth.
    val commits = batches.map(b => (b.endOffset, b.endMs.toDouble))
    val firstCommitMs = batches.map(_.endMs.toDouble).filter(_ > genStartMs).minOption
      .getOrElse(Double.MaxValue)
    val backlogs = backlogSeries(chunks.filter(_.phase == "fixed"), commits)
      .zip(chunks.filter(_.phase == "fixed")).collect {
        case (b, c) if c.sentMs >= firstCommitMs => b
      }
    val growing = unsustainable(backlogs, fixedRate)
    val lags = chunks.map(c => c.sentMs - c.dueMs)

    val p50 = Stats.percentile(samples, 50)
    val p90 = Stats.percentile(samples, 90)
    val e2e = Map(
      "latency_p50_ms" -> Metric(p50.map(_.value).getOrElse(0.0), "ms", samples.size),
      "latency_p90_ms" -> Metric(p90.map(_.value).getOrElse(0.0), "ms", samples.size),
      "throughput_rows_per_s" -> Metric(throughput, "rows/s", satBatches.size),
      "cold_s" -> Metric(coldS, "s", 1),
      "warm_s" -> Metric(Stats.median(trig) / 1000.0, "s", trig.size))

    def med(f: Probes.Batch => Double) = Stats.median(fixedBatches.map(f))
    def dur(k: String)(b: Probes.Batch) = b.durations.getOrElse(k, 0L).toDouble
    val windows = Seq((genStartMs, genEndMs + 1))
    ctx.probes.drain()
    val layers = mutable.Map[String, Double](
      "source.gen_lag_p99_ms" -> Stats.percentile(lags, 99).map(_.value).getOrElse(0.0),
      "source.backlog_rows_max" -> (if (backlogs.isEmpty) 0.0 else backlogs.max.toDouble),
      "streaming.trigger_ms" -> med(dur("triggerExecution")),
      "streaming.latest_offset_ms" -> med(dur("latestOffset")),
      "streaming.query_planning_ms" -> med(dur("queryPlanning")),
      "streaming.add_batch_ms" -> med(dur("addBatch")),
      "streaming.wal_commit_ms" -> med(dur("walCommit")),
      "streaming.commit_offsets_ms" -> med(dur("commitOffsets")),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" -> med(_.inputRows.toDouble),
      "state.rows_total" -> (if (batches.isEmpty) 0.0 else batches.map(_.stateRowsTotal).max.toDouble),
      "state.memory_bytes" -> (if (batches.isEmpty) 0.0 else batches.map(_.stateMemoryBytes).max.toDouble),
      "state.update_ms" -> med(_.stateUpdateMs.toDouble),
      "state.commit_ms" -> med(_.stateCommitMs.toDouble),
      "state.rows_dropped_by_watermark" -> batches.map(_.stateDroppedByWatermark).sum.toDouble,
      s"$addBatchLayer" -> med(dur("addBatch")))
    val sparkL = ctx.probes.sparkLayer(windows)
    layers ++= sparkL
    layers("streaming.jobs_per_batch") =
      sparkL.getOrElse("spark.jobs", 0.0) / math.max(1, batches.size)
    if (ctx.trace.enabled) {
      batchSpans(ctx.trace, batches, addBatchLayer)
      batches.foreach(b => println(s"  batch ${b.batchId}: ${b.inputRows} rows, " +
        s"trigger ${b.durations.getOrElse("triggerExecution", 0L)} ms, " +
        s"addBatch ${b.durations.getOrElse("addBatch", 0L)} ms"))
    }

    val note = if (growing) "fixed-rate backlog kept growing: the rate is not sustainable" else ""
    Outcome(e2e, layers.toMap, !growing, note)
  }

  /** Micro-batch phases as spans: Spark reports each phase's duration,
    * and runs them in this order within a trigger. */
  private val PhaseOrder = Seq("latestOffset" -> "streaming.latest_offset",
    "walCommit" -> "streaming.wal_commit", "getBatch" -> "streaming.get_batch",
    "queryPlanning" -> "streaming.query_planning", "addBatch" -> "",
    "commitOffsets" -> "streaming.commit_offsets")

  private def batchSpans(trace: Trace, batches: Seq[Probes.Batch], addBatchSpan: String): Unit =
    batches.foreach { b =>
      val req = s"query/${b.batchId}"
      val s0 = Trace.fromEpochMs(b.triggerStartMs)
      val s1 = Trace.fromEpochMs(b.endMs)
      val root = trace.record("streaming.trigger", req, s0, s1, None)
      var t = s0
      PhaseOrder.foreach { case (k, name) =>
        val d = b.durations.getOrElse(k, 0L) * 1000000L
        val e = math.min(t + d, s1)
        if (e > t) trace.record(if (name.isEmpty) addBatchSpan.stripSuffix("_ms") else name,
          req, t, e, Some(root))
        t = e
      }
    }
}
