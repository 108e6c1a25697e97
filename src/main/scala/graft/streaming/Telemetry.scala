package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.io.Commit

/** Per-trigger telemetry for long-running streams, persisted as an
  * ordinary parquet table — the operational record a 100 TB ingest
  * needs: at a 60 s trigger a single pipeline commits ~1,440 batches
  * a day, and "is it keeping up / where did the regression start /
  * which batch blew the watermark" are questions about HISTORY that
  * the transient `lastProgress` cannot answer and driver logs answer
  * only until they rotate.
  *
  * Design:
  *   - A [[StreamingQueryListener]] captures every
  *     `QueryProgressEvent` into a driver-side queue (progress events
  *     are tiny — name/id/rows/durations — so retention is bounded by
  *     flush cadence, not data volume).
  *   - [[Telemetry.flush]] drains the queue and APPENDS one parquet
  *     row per batch, partitioned by query name: reads prune to the
  *     pipeline under investigation, and the write path never touches
  *     another query's history. Flush is explicit (call it from a
  *     monitoring tick or after `processAllAvailable` in tests) so
  *     the listener thread itself never blocks on a commit — a slow
  *     metrics disk must not back-pressure the listener bus.
  *   - Progress events are emitted AFTER a batch commits and are not
  *     replayed on restart, so plain append mode cannot double-count
  *     a batch; a crash between commit and flush loses at most the
  *     queued telemetry rows (metrics, not data — the deliberate
  *     trade, same as every metrics system).
  *
  * The table is queryable with the engine itself, e.g. rows-per-second
  * percentiles per query, or batches whose `batch_duration_ms`
  * exceeded the trigger interval (the falling-behind signal).
  *
  * Lifecycle: every flush appends one file per query partition, so a
  * monitoring tick per minute is ~526k files/year — the same
  * small-files failure mode the index family bounds with in-stream
  * auto-compaction, so telemetry gets the same treatment:
  * [[Recorder.flush]] folds any partition whose file count crossed
  * `autoCompactFiles` back to one file before appending (amortized
  * O(history/threshold), and compact-before-append means the rows
  * being appended are never part of the tree being swapped), and
  * [[Telemetry.retain]] drops history older than a cutoff. Both use
  * the per-partition fail-safe swap of [[graft.io.Commit]]: new file
  * staged beside the partition under a hidden name, then swapped in
  * — a crash at any step leaves either the old or the new tree intact
  * on disk, and the next flush or maintenance call heals the
  * leftovers. Single-maintenance-thread assumption as with the index
  * family: call flush/compact/retain from ONE monitoring tick, not
  * concurrently.
  */
object Telemetry {

  final class Recorder private[Telemetry] (
      spark: SparkSession, outDir: String,
      autoCompactFiles: Int) {
    private[Telemetry] val queue =
      new ConcurrentLinkedQueue[QueryProgressEvent]()

    private[Telemetry] val listener: StreamingQueryListener =
      new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          queue.add(e)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }

    /** Drain captured progress events into the parquet table; returns
      * the number of batch rows written. Cheap when nothing queued.
      * Before appending, folds any query partition whose file count
      * crossed `autoCompactFiles` — the append itself then lands in a
      * freshly-bounded tree, so partition file counts stay in
      * [1, autoCompactFiles] forever without a separate maintenance
      * job (disable with autoCompactFiles = 0 at [[Telemetry.attach]]).
      */
    def flush(): Long = {
      // compact heals first even when it folds nothing: rows appended
      // beside a crashed swap's park would make the park look like a
      // completed swap's leftover
      if (!queue.isEmpty) compact(spark, outDir,
        if (autoCompactFiles > 0) autoCompactFiles else Int.MaxValue)
      import spark.implicits._
      var rows = List.empty[(String, String, String, Long, String,
        Long, Double, Double, Long, Long, Long, String)]
      var ev = queue.poll()
      while (ev != null) {
        val p = ev.progress
        val stateRows = Option(p.stateOperators)
          .map(_.map(_.numRowsTotal).sum).getOrElse(0L)
        val watermark = Option(p.eventTime)
          .flatMap(m => Option(m.get("watermark"))).getOrElse("")
        rows = (Option(p.name).getOrElse(""), p.id.toString,
          p.runId.toString, p.batchId, p.timestamp, p.numInputRows,
          p.inputRowsPerSecond, p.processedRowsPerSecond,
          Option(p.durationMs)
            .flatMap(m => Option(m.get("triggerExecution")))
            .map(_.longValue()).getOrElse(0L),
          Option(p.durationMs)
            .flatMap(m => Option(m.get("addBatch")))
            .map(_.longValue()).getOrElse(0L),
          stateRows, watermark) :: rows
        ev = queue.poll()
      }
      if (rows.isEmpty) 0L
      else {
        rows.toDF("query_name", "query_id", "run_id", "batch_id",
            "batch_ts", "input_rows", "input_rows_per_sec",
            "processed_rows_per_sec", "batch_duration_ms",
            "add_batch_ms", "state_rows", "watermark")
          // NaN rates (first batch has no elapsed denominator) store
          // as NULL so SQL aggregates skip them instead of poisoning
          .withColumn("input_rows_per_sec",
            when(isnan(col("input_rows_per_sec")), lit(null))
              .otherwise(col("input_rows_per_sec")))
          .withColumn("processed_rows_per_sec",
            when(isnan(col("processed_rows_per_sec")), lit(null))
              .otherwise(col("processed_rows_per_sec")))
          .coalesce(1)
          .write.mode("append").partitionBy("query_name").parquet(outDir)
        rows.size.toLong
      }
    }

    /** Progress events captured but not yet flushed. The listener bus
      * delivers asynchronously — a caller that must see a specific
      * batch (tests, a drain-before-shutdown hook) waits on this
      * rather than assuming `processAllAvailable` implies delivery.
      */
    def pending(): Int = queue.size()

    /** Detach from the listener bus (queued events remain flushable). */
    def stop(): Unit = spark.streams.removeListener(listener)
  }

  /** Attach a recorder to the session's listener bus. One recorder
    * observes EVERY streaming query on the session; the partition
    * column keeps their histories separate. `autoCompactFiles` bounds
    * each partition's file count across flushes (0 disables).
    */
  def attach(spark: SparkSession, outDir: String,
             autoCompactFiles: Int = 64): Recorder = {
    val r = new Recorder(spark, outDir, autoCompactFiles)
    spark.streams.addListener(r.listener)
    r
  }

  import org.apache.hadoop.fs.Path

  /** Fold every `query_name=` partition whose data-file count exceeds
    * `maxFiles` back to ONE file; returns the number of partitions
    * folded. Reads are unaffected afterwards — same rows, fewer
    * footers. Heals leftovers of a crashed prior fold on entry.
    */
  def compact(spark: SparkSession, outDir: String,
              maxFiles: Int = 64): Int =
    rewritePartitions(spark, outDir,
      part = p => dataFiles(spark, p).length > maxFiles,
      transform = identity)

  /** Retention: drop telemetry rows with `batch_ts` older than
    * `minBatchTs` (ISO-8601 UTC, the progress event's own format —
    * lexicographic compare is chronological for that format). Every
    * partition is rewritten through the same fail-safe swap; a
    * partition left completely EMPTY is deleted outright — whether
    * Spark emitted a zero-row part file for it is version-dependent,
    * and both alternatives are worse (a file-less dir fails schema
    * inference on the next read; a zero-row file costs a footer per
    * read forever). A table whose every partition emptied reads
    * as no-partitions until the recorder's next flush recreates it,
    * exactly like before its first flush.
    */
  def retain(spark: SparkSession, outDir: String,
             minBatchTs: String): Int =
    rewritePartitions(spark, outDir,
      part = _ => true,
      transform = df => df.filter(col("batch_ts") >= lit(minBatchTs)))

  private def dataFiles(spark: SparkSession, part: Path) = {
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(part).filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
  }

  /** Shared per-partition fail-safe rewrite: for each `query_name=`
    * dir selected by `part`, stage `transform(partition rows)` as one
    * file and swap it in through [[graft.io.Commit]]. The stage and
    * the park are hidden names, so reads of `outDir` never see them,
    * and entry-time healing finishes or undoes a crashed prior
    * rewrite's swaps.
    */
  private def rewritePartitions(spark: SparkSession, outDir: String,
                                part: Path => Boolean,
                                transform: org.apache.spark.sql.DataFrame =>
                                  org.apache.spark.sql.DataFrame): Int = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    Commit.healChildren(fs, root, "Telemetry")
    var folded = 0
    fs.listStatus(root).filter(st => st.isDirectory &&
      st.getPath.getName.startsWith("query_name=")).foreach { st =>
      val dir = st.getPath
      if (part(dir)) {
        val tmp = Commit.stage(dir)
        // partition files carry every column BUT the partition key —
        // a plain directory read/write round-trips that layout
        transform(spark.read.parquet(dir.toString))
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        // zero surviving rows → swap the partition out for NOTHING:
        // whether Spark emits a zero-row part file is version-dependent
        // (a file-less dir poisons schema inference on the next read; a
        // zero-row file costs a footer per read forever), and reads
        // then simply stop seeing this query_name. The row probe is
        // footer-bounded (isEmpty = limit 1 over one fresh file).
        if (dataFiles(spark, tmp).isEmpty ||
            spark.read.parquet(tmp.toString).isEmpty)
          fs.delete(tmp, true)
        Commit.swap(fs, dir, tmp, "Telemetry")
        folded += 1
      }
    }
    folded
  }

  /** The falling-behind report: batches whose trigger execution took
    * longer than the trigger interval — each one a trigger that
    * started late, the first observable of an unsustainable pipeline.
    */
  def laggingBatches(spark: SparkSession, outDir: String,
                     triggerMs: Long): org.apache.spark.sql.DataFrame =
    spark.read.parquet(outDir)
      .filter(col("batch_duration_ms") > triggerMs)
      .select(col("query_name"), col("batch_id"), col("batch_ts"),
        col("input_rows"), col("batch_duration_ms"), col("state_rows"))
      .orderBy(col("query_name"), col("batch_id"))

  /** The single operator-facing health view over every pipeline the
    * recorder observes: one row per streaming query with its
    * throughput/lag summary from the telemetry table, LEFT-joined
    * with the segment posture of the index it maintains
    * ([[graft.ops.Similarity.describeIndex]] aggregated per
    * directory) for the queries in `indexes` (query name → index
    * dir). This is the one table an operator reads before deciding
    * anything — "is the pipeline keeping up, and is its index's
    * segment count / epoch state healthy" — instead of correlating
    * `laggingBatches` with per-index `describeIndex` calls by hand.
    *
    * Cost: one telemetry-table aggregate plus, per REGISTERED index,
    * describeIndex's metadata-bounded walk — driver-side loop over
    * the handful of pipelines an operator runs, never over data.
    * Index columns are null for queries with no registered index
    * (e.g. the kline JDBC flagship). `index_epoch_coherent = false`
    * or a climbing `index_segments` is the page-someone signal;
    * `lagging_batches` climbing with it usually names the cause.
    */
  def healthView(spark: SparkSession, outDir: String, triggerMs: Long,
                 indexes: Map[String, String] = Map.empty):
      org.apache.spark.sql.DataFrame = {
    val perQuery = spark.read.parquet(outDir)
      .groupBy(col("query_name"))
      .agg(count(lit(1)).as("batches"),
        max(col("batch_id")).as("last_batch_id"),
        sum(when(col("batch_duration_ms") > triggerMs, 1L).otherwise(0L))
          .as("lagging_batches"),
        max(col("batch_duration_ms")).as("max_batch_ms"),
        sum(col("input_rows")).as("input_rows"),
        max(col("state_rows")).as("state_rows"))
    val described = indexes.toSeq.sortBy(_._1).map { case (qn, dir) =>
      graft.ops.Similarity.describeIndex(spark, dir)
        .agg(count(lit(1)).as("index_segments"),
          sum(col("rows")).as("index_rows"),
          sum(col("files")).as("index_files"),
          sum(col("bytes")).as("index_bytes"),
          min(col("epoch_coherent").cast("int")).cast("boolean")
            .as("index_epoch_coherent"))
        .withColumn("query_name", lit(qn))
    }
    described.reduceOption(_.unionByName(_)) match {
      case Some(idx) => perQuery.join(idx, Seq("query_name"), "left")
      case None => perQuery
        .withColumn("index_segments", lit(null).cast("long"))
        .withColumn("index_rows", lit(null).cast("long"))
        .withColumn("index_files", lit(null).cast("long"))
        .withColumn("index_bytes", lit(null).cast("long"))
        .withColumn("index_epoch_coherent", lit(null).cast("boolean"))
    }
  }
}
