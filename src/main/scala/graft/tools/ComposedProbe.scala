package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Stage attribution for the composed deduped→binary-index pipeline
  * (r12 VERDICT #2): the r12 streaming artifact recorded its busy
  * capacity at ~2.9k rows/s — 22× below the plain binary append — and
  * attributed it to "the admission join dominates" with NO stage
  * breakdown. This probe runs the EXACT per-trigger body
  * ([[graft.etl.IndexIngest.dedupedBinaryAppendBatch]] — the same
  * function the stream's foreachBatch calls) over batch-sized static
  * frames against a growing corpus, with the admission stages labeled
  * via job descriptions ([[graft.GraftSession.described]]) and
  * summed per batch by a SparkListener. It measures the production
  * plan, so the corpus band-join probe and the in-batch pairing run
  * as one action and report together under `admit:probe+pairs`.
  *
  * Stages reported per batch:
  *   admit:sign+nullcheck   batch persist fill (sign + norm) + null guard
  *   admit:probe+pairs      band equi-join vs the persisted `_sbands`
  *                          index + fused cosine verify + anti-join
  *                          (survivors cache fill), then the in-batch
  *                          pair join among survivors
  *   admit:count            admitted-count action (cached, ~0)
  *   admit:commit-corpus    dynamic partition overwrite, documents
  *   admit:commit-bands     dynamic partition overwrite, band postings
  *   index:append           sign + seg-overwrite into the binary index
  *   index:compact          in-stream auto-compaction when tripped
  *   (driver)               wall minus summed job time — greedy
  *                          resolution, planning, commit bookkeeping
  *
  * Usage: runMain graft.tools.ComposedProbe [batchRows] [nBatches] [dupPct] [stateBuckets]
  * `stateBuckets` > 0 runs the bucketed `_sbands` layout (r14) — the
  * A/B lever against the r13 path-layout baseline.
  */
object ComposedProbe {
  def main(args: Array[String]): Unit = {
    val batchRows = args.headOption.map(_.toInt).getOrElse(90000)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val dupPct = args.lift(2).map(_.toInt).getOrElse(5)
    val stateBuckets = args.lift(3).map(_.toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-description job wall, drained between batches
    val stageMs = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("(unlabeled)")
          jobStart.put(js.jobId, (desc, js.time))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(je.jobId)).foreach { case (desc, t0) =>
            stageMs.merge(desc, je.time - t0, (a, b) => a + b)
          }
        }
      })

    val work = java.nio.file.Files
      .createTempDirectory("graft-composedprobe").toString
    val corpusDir = s"$work/bin-corpus"
    val indexDir = s"$work/bin-idx"
    val ckpt = s"$work/cp" // tag source only — no stream here

    // the StreamingPerf fixture verbatim: xxhash64-keyed embeddings
    // (uniform, distinct ids near cosine 0), dupPct% planted dups
    def hashEmb(idCol: String) =
      s"transform(sequence(0, 63), i -> " +
        s"cast(pmod(xxhash64($idCol, i), 2000001) / 1000000.0 - 1 as float))"
    val dup = expr(
      "transform(sequence(0, 63), i -> " +
        "cast(pmod(xxhash64(-1L, i), 2000001) / 1000000.0 - 1 as float))")
    def batchDf(batchId: Int): DataFrame =
      spark.range(batchRows)
        .select((col("id") + 10000000L + batchId.toLong * batchRows)
          .as("vec_id"))
        .select(col("vec_id"),
          when(pmod(col("vec_id"), lit(100)) < dupPct, dup)
            .otherwise(expr(hashEmb("vec_id"))).as("embedding"))

    // the seed INCLUDES the planted-dup vector (one row): in the live
    // stream the first (tiny) trigger admits it, after which every
    // batch's planted dups die at the CORPUS probe tier — the steady
    // state this probe measures. Without it, a full-size first batch
    // pairs its ~4.5k identical rows ALL-AGAINST-ALL in the in-batch
    // tier (C(4500,2) ≈ 10M pairs) and trips the driver-resolution
    // cap — correctly, but that is the cold-start pathology, not the
    // steady state.
    val seed = spark.range(5000).select(col("id").as("vec_id"),
        expr(hashEmb("id")).as("embedding"))
      .unionByName(spark.range(1).select(lit(5000L).as("vec_id"),
        dup.as("embedding")))
    // scale-sized banding (annParams(100k) regime), the StreamingPerf
    // deployment choice: 6 bands × 10 bits
    graft.etl.IndexIngest.bootstrapDedupedBinary(seed, corpusDir, indexDir,
      bands = 6, bitsPerBand = 10, stateBuckets = stateBuckets)

    // listener events post on an async bus: without a drain, late
    // onJobEnd events get dropped by the next batch's clear() or
    // attributed to the wrong batch, inflating the (driver) column of
    // the stage table this probe exists to produce (r13 ADVICE).
    // listenerBus.waitUntilEmpty is private[spark]; bounded sleep-
    // drain on the summed totals instead.
    def drainListener(): Unit = {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 2000000000L
      var prev = -1L
      var stable = 0
      while (stable < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = stageMs.asScala.values.sum
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
    }

    val batches = (0 until nBatches).map { i =>
      stageMs.clear()
      val t0 = System.nanoTime()
      graft.etl.IndexIngest.dedupedBinaryAppendBatch(batchDf(i), corpusDir,
        indexDir, ckpt, batchId = i.toLong, bands = 6, bitsPerBand = 10,
        autoCompactSegments = 4, stateBuckets = stateBuckets)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      drainListener()
      import scala.jdk.CollectionConverters._
      val stages = stageMs.asScala.toSeq.sortBy(-_._2)
      val jobMs = stages.map(_._2).sum
      val corpusRows = spark.read.parquet(corpusDir).count()
      val stagesJson = stages.map { case (k, v) =>
        graft.JsonText.str(k) + ":" + v }.mkString("{", ",", "}")
      System.err.println(s"[probe] batch $i wall=${wallMs}ms " +
        stages.map { case (k, v) => s"$k=${v}ms" }.mkString(" "))
      s"""{"batch":$i,"wall_ms":$wallMs,"driver_ms":${wallMs - jobMs},""" +
        s""""corpus_rows_after":$corpusRows,"stages":$stagesJson}"""
    }
    println(s"""{"metric":"composed_stage_probe","batch_rows":$batchRows,""" +
      s""""dup_pct":$dupPct,"cpus":$cpus,"bands":6,"bits_per_band":10,""" +
      s""""state_buckets":$stateBuckets,"batches":[${batches.mkString(",")}]}""")
    spark.stop()
  }
}
