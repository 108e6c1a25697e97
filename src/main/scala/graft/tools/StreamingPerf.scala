package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.ingest.KlineIngest
import graft.ops.Similarity
import graft.pipelines.KlinePipeline
import graft.sinks.Routing
import graft.streaming.Telemetry

/** Streaming performance probe — the measured half the streaming
  * layer was missing (r10 VERDICT #2: correctness exhaustively
  * proven, zero recorded rows/sec anywhere, for an engine whose
  * reference category IS a streaming pipeline).
  *
  * Drives resident pipelines at sustained rate-source input for a
  * fixed wall-clock window each, with the [[Telemetry]] recorder as
  * the measurement instrument — the same table an operator would
  * read in production, so the probe measures what the observability
  * surface actually reports, not a side channel. It drives the three
  * pipelines the `perfbench` workloads do not (`perfbench`'s
  * `kline_jdbc` and `doc_dedup` measure
  * [[KlinePipeline.longtimeJdbc]] and
  * [[graft.etl.DedupIngest.startIncremental]] open-loop):
  *
  *   - `routed_parquet` — [[Routing.routedParquet]]: enrich → one
  *     partitioned parquet write per batch with replay markers.
  *
  * Per pipeline the probe reports: batches committed, input rows,
  * mean rows/sec over the window, p50/p95/max of the per-trigger
  * `triggerExecution` wall, and the LAGGING count — batches whose
  * trigger execution exceeded the trigger interval, i.e.
  * [[Telemetry.laggingBatches]], the first observable of an
  * unsustainable rate. A pipeline with zero lagging batches at rate
  * R sustains R with headroom; p95 ≪ the interval quantifies how
  * much.
  *
  * The two INDEX-MAINTENANCE pipelines, whose O(batch) claim the
  * 100 TB story rests on, run with in-stream auto-compaction forced
  * LOW (threshold 4 segments) so the one O(index) pause inside the
  * otherwise O(batch) loop trips mid-window and lands in the
  * per-trigger tail the probe reports:
  *
  *   - `ivfpq_append` — [[graft.etl.IndexIngest.startIvfPqAppend]]:
  *     frozen-model assign + encode + seg-overwrite append per batch.
  *   - `deduped_binary` — [[graft.etl.IndexIngest
  *     .startDedupedBinaryAppend]]: near-dup admission against the
  *     persisted corpus, then the admitted survivors appended to the
  *     binary index — the composed exactly-once pipeline.
  *
  * For both, the probe also times one OFFLINE compaction after the
  * stream stops (`offline_compact_ms` — the same O(index) act the
  * in-stream threshold amortizes) and reports the index row count it
  * folded, so the pause can be read against the trigger interval.
  *
  * Usage: `runMain graft.tools.StreamingPerf [durationSec]
  * [routedRps] [ivfpqRps] [dedupedBinRps]` — prints ONE JSON line.
  * `SPARK_GRAFT_STREAM_ONLY=name[,name…]` runs a subset, and
  * `tools/run_ladder.sh <commit> <round> streaming` runs the
  * sustained, saturated and long-window regimes SCALE.md records.
  */
object StreamingPerf {

  def main(args: Array[String]): Unit = {
    val durationSec = args.headOption.map(_.toInt).getOrElse(30)
    // default rates target the SUSTAINABLE regime (zero lagging
    // after warm-up); pass higher rates to measure the saturation
    // ceiling instead
    val routedRps = args.lift(1).map(_.toInt).getOrElse(15000)
    val ivfpqRps = args.lift(2).map(_.toInt).getOrElse(20000)
    val dedupedBinRps = args.lift(3).map(_.toInt).getOrElse(10000)
    // SPARK_GRAFT_STREAM_ONLY=name[,name...] runs a subset — the
    // deduped_binary long window needs >=10 batches at its 30 s
    // cadence (>=330 s), which the other pipelines should not pay
    val onlyPipes = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    def enabled(name: String): Boolean = onlyPipes.forall(_.contains(name))
    val spark = GraftSession.forMain(dataDir = "")

    val work = java.nio.file.Files
      .createTempDirectory("graft-streamperf").toString
    val telemetryDir = s"$work/telemetry"
    val rec = Telemetry.attach(spark, telemetryDir)

    def percentile(sorted: Seq[Long], p: Double): Long =
      if (sorted.isEmpty) 0L
      else sorted(math.min(sorted.size - 1,
        math.ceil(p * sorted.size).toInt - 1).max(0))

    /** Run one pipeline for the window, drain telemetry, summarize.
      * `extraAfter` runs AFTER the query stops and appends its
      * pre-rendered JSON fields to the pipeline's object (the index
      * pipelines' post-window segment census + offline compaction). */
    def measure(name: String, triggerMs: Long,
                extraAfter: () => String = () => "")(start: () => org.apache.spark.sql.streaming.StreamingQuery): String = {
      val q = start()
      Thread.sleep(durationSec * 1000L)
      // a died query must fail the probe loudly, not read as 0 rows/s
      q.exception.foreach { e =>
        throw new IllegalStateException(s"pipeline $name died mid-window", e)
      }
      q.stop()
      q.awaitTermination()
      // listener delivery is async — wait for the queue to settle,
      // then flush everything this query produced
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (rec.pending() != last && System.nanoTime() < deadline) {
        last = rec.pending(); Thread.sleep(300)
      }
      rec.flush()
      val t = spark.read.parquet(telemetryDir)
        .filter(col("query_name") === name && col("input_rows") > 0)
      val rows = t.select(col("batch_id"), col("input_rows"),
          col("batch_duration_ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val batches = rows.length
      val inputRows = rows.map(_._2).sum
      val durs = rows.map(_._3).sorted.toSeq
      // rows/sec two ways: over the WALL window (what a consumer
      // saw — undershoots the engine when the offered rate is below
      // capacity or the window ends mid-batch) and over BUSY trigger
      // time (the engine's processing throughput — the capacity
      // number a saturated run measures)
      val wallRps = if (durationSec == 0) 0.0
        else inputRows.toDouble / durationSec
      val busyMs = rows.map(_._3).sum
      val busyRps = if (busyMs == 0) 0.0 else inputRows * 1000.0 / busyMs
      val lagging = Telemetry.laggingBatches(spark, telemetryDir, triggerMs)
        .filter(col("query_name") === name).count()
      // the first triggers pay codegen/JIT/state-store init; a
      // steady-state lag verdict excludes them (warm = batches after
      // the first 3 DATA batches)
      val warmIds = rows.map(_._1).drop(3).toSet
      val laggingWarm = rows.count(r =>
        warmIds.contains(r._1) && r._3 > triggerMs)
      f""""$name":{"trigger_ms":$triggerMs,"batches":$batches,"input_rows":$inputRows,""" +
        f""""rows_per_sec_wall":${wallRps}%.0f,"rows_per_sec_busy":${busyRps}%.0f,""" +
        f""""p50_trigger_ms":${percentile(durs, 0.50)},""" +
        f""""p95_trigger_ms":${percentile(durs, 0.95)},"max_trigger_ms":${durs.lastOption.getOrElse(0L)},""" +
        f""""lagging_batches":$lagging,"lagging_after_warmup":$laggingWarm${extraAfter()}}"""
    }

    // 1. routed partitioned-parquet sink (trigger overridden from the
    // builder's AvailableNow to a resident cadence). A partitioned
    // parquet commit costs ~1 s REGARDLESS of rows (file+marker+
    // footer work), so a 1 s cadence is borderline-lagging at any
    // rate — 5 s is the realistic floor for a parquet sink
    val routedTriggerMs = 5000L
    val routed = if (!enabled("routed_parquet")) "" else
      measure("routed_parquet", routedTriggerMs) { () =>
      Routing.routedParquet(
          KlinePipeline.enriched(
            KlineIngest.simulatedStream(spark, rowsPerSecond = routedRps)),
          s"$work/routed-out", s"$work/cp-routed")
        .queryName("routed_parquet")
        .trigger(Trigger.ProcessingTime(s"$routedTriggerMs milliseconds"))
        .start()
    }

    // 2 + 3: the index-maintenance pipelines.
    // Deterministic embedding stream: 64 floats HASH-keyed by
    // (row id, dim) via xxhash64, uniform in [-1, 1] — distinct ids
    // land near cosine 0, so the dedup pipeline's admission measures
    // exactly its ~5 % planted duplicates. (A first cut used
    // sin(id·(i+1)) and the admission "mysteriously" rejected 99.7 %
    // of the stream — correctly: sin of an integer id is
    // near-periodic, ids 710 apart are 113·2π away and their
    // embeddings near-identical. The operator caught the degenerate
    // fixture.) Ids offset past the bootstrap seed. Auto-compaction
    // threshold 4: with ~1 trigger per 10 s the fold trips mid-window
    // and its O(index) pause lands in max_trigger_ms, against a p50
    // that stays O(batch).
    val hashEmb =
      "transform(sequence(0, 63), i -> " +
        "cast(pmod(xxhash64(value + 10000000, i), 2000001) / 1000000.0 - 1 as float))"
    def embStream(rps: Int, planted: Boolean): DataFrame = {
      val base = spark.readStream.format("rate")
        .option("rowsPerSecond", rps.toString).load()
      val dup = expr(
        "transform(sequence(0, 63), i -> " +
          "cast(pmod(xxhash64(-1L, i), 2000001) / 1000000.0 - 1 as float))")
      base.select((col("value") + 10000000L).as("vec_id"),
        (if (planted) when(col("value") % 20 === 0, dup)
           .otherwise(expr(hashEmb))
         else expr(hashEmb)).as("embedding"))
    }
    val seed = spark.range(5000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
          "cast(pmod(xxhash64(id, i), 2000001) / 1000000.0 - 1 as float))")
        .as("embedding"))
    val indexTriggerMs = 10000L

    def t(body: => Unit): Long = {
      val t0 = System.nanoTime(); body
      (System.nanoTime() - t0) / 1000000L
    }
    def indexExtra(dir: String, compact: => Unit): () => String = () => {
      val segs = Similarity.describeIndex(spark, dir)
      val (nSegs, nRows) = (segs.count(),
        segs.agg(sum(col("rows"))).head().getLong(0))
      val compactMs = t(compact)
      s""","segments_after":$nSegs,"index_rows":$nRows,"offline_compact_ms":$compactMs"""
    }

    // 2. frozen-model IVF-PQ append (assign + encode + seg overwrite)
    val ivfpqDir = s"$work/ivfpq-idx"
    if (enabled("ivfpq_append"))
      Similarity.buildIvfPqIndex(seed, ivfpqDir, nlist = 16, m = 8, ksub = 16,
        seed = 42L)
    val ivfpq = if (!enabled("ivfpq_append")) "" else
      measure("ivfpq_append", indexTriggerMs,
      indexExtra(ivfpqDir, Similarity.compactIndex(spark, ivfpqDir))) { () =>
      graft.etl.IndexIngest.startIvfPqAppend(
        embStream(ivfpqRps, planted = false), ivfpqDir, s"$work/cp-ivfpq",
        trigger = Trigger.ProcessingTime(s"$indexTriggerMs milliseconds"),
        autoCompactSegments = 4, queryName = Some("ivfpq_append"))
    }

    // 3. composed dedup→binary pipeline (admission + index append,
    // exactly-once both stages). Banding sized for the BATCH scale
    // like any production deployment (the annParams(100k) regime,
    // 6 bands × 10 bits): the gate-scale default (8×4 = 16 buckets
    // per band) makes a ~60k-row admitted batch enumerate ~10⁹
    // in-batch candidate pairs — the first trigger never finished in
    // a 60 s window. Params are stream state (travel with the
    // checkpoint), so this is the start-time sizing decision the
    // operator's docs prescribe.
    val binCorpus = s"$work/bin-corpus"
    val binIdx = s"$work/bin-idx"
    if (enabled("deduped_binary"))
      graft.etl.IndexIngest.bootstrapDedupedBinary(seed, binCorpus, binIdx,
        bands = 6, bitsPerBand = 10, stateBuckets = 32)
    // the composed admission pays a heavy fixed per-trigger floor
    // (banding join + cosine verify + three partitioned commits) —
    // the product default cadence is 60 s; judged here at 30 s, its
    // own cadence rather than the routed sink's 5 s
    val dedupedBinTriggerMs = 30000L
    val dedupedBin = if (!enabled("deduped_binary")) "" else
      measure("deduped_binary", dedupedBinTriggerMs,
      indexExtra(binIdx, Similarity.compactBinaryIndex(spark, binIdx))) { () =>
      graft.etl.IndexIngest.startDedupedBinaryAppend(
        embStream(dedupedBinRps, planted = true), binCorpus, binIdx,
        s"$work/cp-dedupedbin", bands = 6, bitsPerBand = 10,
        trigger = Trigger.ProcessingTime(s"$dedupedBinTriggerMs milliseconds"),
        autoCompactSegments = 4, queryName = Some("deduped_binary"),
        // the bucketed _sbands layout — the stored probe side stops
        // exchanging per trigger (BucketedStateSpec pins the plan;
        // SCALE.md's per-stage tables record the 0-vs-32 slope)
        stateBuckets = 32)
    }

    rec.stop()
    println(s"""{"metric":"streaming_perf","duration_s":$durationSec,""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""rates":{"routed_parquet":$routedRps,"ivfpq_append":$ivfpqRps,"deduped_binary":$dedupedBinRps},""" +
      s""""pipelines":{${Seq(routed, ivfpq, dedupedBin)
        .filter(_.nonEmpty).mkString(",")}}}""")
    spark.stop()
  }
}
