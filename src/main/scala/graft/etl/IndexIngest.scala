package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.GraftSession.described
import graft.ops.Similarity

/** Streaming maintenance of a persisted ANN index
  * ([[graft.ops.Similarity.buildIvfPqIndex]]): each micro-batch of
  * new vectors is appended with the FROZEN persisted model —
  * O(batch) per trigger, the index data files are never read — so a
  * 100 TB index keeps serving queries while ingest runs forever and
  * the quantizer refit stays a deliberate, offline act.
  *
  * EXACTLY-ONCE BY CONSTRUCTION, the [[DedupIngest]] shape: every
  * batch writes under segment `runTag-batchId` (runTag = hash of the
  * checkpoint path — stable across resume, distinct across fresh
  * checkpoints), and the append is a dynamic partition OVERWRITE of
  * exactly the (seg, cell) partitions the batch produces. Cell
  * assignment is deterministic given the persisted centroids, so a
  * crash-replay of the same batch id recomputes identical partitions
  * and overwrites itself in place; no admission state, no manifest,
  * nothing to repair.
  *
  * The caller owns dedup and batching policy upstream: route the
  * stream through [[DedupIngest.startEmbeddingDedup]] first if
  * near-duplicate vectors must not enter the index, and size
  * triggers so batches amortize the one-file-per-touched-cell commit
  * (SCALE.md's accumulate-to-≳100·nlist-rows policy).
  *
  * Segment growth is BOUNDED in-stream: `autoCompactSegments`
  * (default 64 on the streaming entry points) folds the index's
  * committed segments back to one `base` segment whenever the count
  * reaches the threshold, inside the trigger, preserving the
  * exactly-once construction — see [[appendBatch]] for why the
  * compact-before-append ordering and the keep-current-segment rule
  * make compaction commute with crash replay. Amortized cost is
  * O(index / threshold) per batch; at a 60 s trigger the default
  * folds roughly hourly instead of leaving ~1,440 segment
  * directories per day for an operator to remember.
  */
object IndexIngest {

  /** One batch of the maintenance stream — exposed so tests (and
    * manual backfills that want streaming semantics) can drive the
    * exact code path the query runs, including a crash-replay under
    * the same batch id.
    *
    * `autoCompactSegments > 0` is the in-stream compaction policy
    * (r8 VERDICT #4): without it a 60 s trigger accumulates ~1,440
    * segment directories per DAY forever, and compaction stays a
    * caller-remembered offline act. When the segment count reaches
    * the threshold, the batch FIRST folds the index
    * ([[graft.ops.Similarity.compactIndex]]) and then appends.
    * Ordering and the keep-set are what preserve exactly-once:
    * compaction runs BEFORE the append and keeps the current batch's
    * own segment untouched, because that segment is the only one a
    * checkpoint crash-replay can rewrite — every other segment
    * belongs to a committed batch (foreachBatch for batch N only
    * runs after N−1 committed) or to a dead run tag, and folding
    * those into `base` commutes with any replay. Compaction itself
    * stages the fold at the hidden `.<index>.tmp` and swaps it in
    * through [[graft.io.Commit]], so a crash mid-compact leaves the
    * original live or parked at `.<index>.old`, never a partial fold,
    * and the next batch's compaction or append heals the park.
    */
  def appendBatch(batch: DataFrame, indexDir: String, checkpointDir: String,
                  batchId: Long, autoCompactSegments: Int = 0): Unit = {
    val seg = s"${runTagOf(checkpointDir)}-$batchId"
    maybeCompact(batch.sparkSession, indexDir, seg, autoCompactSegments)
    Similarity.appendToIvfPqIndex(batch.sparkSession, indexDir, batch,
      seg = Some(seg))
  }

  private def maybeCompact(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, currentSeg: String,
                           autoCompactSegments: Int,
                           compact: (org.apache.spark.sql.SparkSession,
                             String, Option[String]) => Unit =
                             Similarity.compactIndex(_, _, _)): Unit =
    if (autoCompactSegments > 0 &&
        Similarity.segmentNames(spark, indexDir)
          .count(_ != currentSeg) >= autoCompactSegments)
      compact(spark, indexDir, Some(currentSeg))

  /** [[appendBatch]] for a [[graft.ops.Similarity.buildBinaryIndex]]
    * directory — the zero-training family under the same
    * exactly-once construction: signing is deterministic from the
    * stored seed, so a crash-replay of batch N recomputes the
    * identical `seg=runTag-N` partition and dynamic-overwrites
    * itself in place. In-stream compaction goes through
    * [[graft.ops.Similarity.compactBinaryIndex]] (the flat tier has
    * no cells to preserve) with the same compact-before-append
    * ordering and keep-current-segment rule.
    */
  def appendBinaryBatch(batch: DataFrame, indexDir: String,
                        checkpointDir: String, batchId: Long,
                        autoCompactSegments: Int = 0): Unit = {
    val seg = s"${runTagOf(checkpointDir)}-$batchId"
    maybeCompact(batch.sparkSession, indexDir, seg, autoCompactSegments,
      Similarity.compactBinaryIndex(_, _, _))
    Similarity.appendToBinaryIndex(batch.sparkSession, indexDir, batch,
      seg = Some(seg))
  }

  /** [[startIvfPqAppend]] for the binary family. The index must
    * already exist ([[graft.ops.Similarity.buildBinaryIndex]] — over
    * any non-empty corpus: there is no model to fit, so unlike the
    * IVF bootstrap the seed set's distribution constrains nothing).
    */
  def startBinaryAppend(stream: DataFrame, indexDir: String,
                        checkpointDir: String,
                        trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                        autoCompactSegments: Int = 64,
                        queryName: Option[String] = None): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBinaryBatch(batch, indexDir, checkpointDir, batchId,
          autoCompactSegments)
      }
    queryName.fold(w)(w.queryName).start()
  }

  /** Resident maintenance stream: `stream` must carry the index
    * schema (`vec_id`, `embedding`). The index must already exist
    * ([[graft.ops.Similarity.buildIvfPqIndex]] — possibly over an
    * empty corpus sample is NOT supported: the frozen model is the
    * contract, so bootstrap fits it).
    */
  def startIvfPqAppend(stream: DataFrame, indexDir: String,
                       checkpointDir: String,
                       trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                       autoCompactSegments: Int = 64,
                       queryName: Option[String] = None): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, indexDir, checkpointDir, batchId,
          autoCompactSegments)
      }
    // named queries key the telemetry table's partitions, which is
    // what Telemetry.healthView joins index posture against
    queryName.fold(w)(w.queryName).start()
  }

  /** Bootstrap the composed pipeline's two stores COHERENTLY: the
    * seed set is admitted into the dedup corpus (in-seed near-dups
    * rejected with the operator's own sequential semantics) under the
    * reserved pre-stream partition `-1` — a batch-id space no
    * checkpointed stream ever writes, so the stream's batch 0 cannot
    * collide with it — and the index is built over exactly the
    * admitted survivors. Re-running the bootstrap overwrites its own
    * partitions and rebuilds the same index (everything downstream of
    * the seed is deterministic). An index bootstrapped separately
    * from the dedup corpus would let a later near-dup of an indexed
    * vector through — the two stores must share one origin.
    */
  def bootstrapDedupedIvfPq(seed: DataFrame, corpusDir: String,
                            indexDir: String,
                            idCol: String = "vec_id",
                            embCol: String = "embedding",
                            threshold: Double = 0.8, bands: Int = 8,
                            bitsPerBand: Int = 4, hashSeed: Long = 42L,
                            nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                            stateBuckets: Int = 0): Unit = {
    val spark = seed.sparkSession
    val n = DedupIngest.admitBatchEmbedding(spark, seed, corpusDir,
      batchId = -1L, idCol, embCol, threshold, bands, bitsPerBand,
      hashSeed, stateBuckets = stateBuckets)
    require(n > 0, "bootstrapDedupedIvfPq: no seed rows admitted — " +
      "the index model cannot fit on an empty corpus")
    Similarity.buildIvfPqIndex(admittedOf(spark, corpusDir, "-1", idCol,
      embCol), indexDir, nlist = nlist, m = m, ksub = ksub, seed = hashSeed)
  }

  /** One composed batch: admit (near-dups rejected), then append the
    * batch's admitted survivors to the index under the same
    * run-scoped id — both stages idempotent under replay. Exposed for
    * tests and manual backfills, exactly like [[appendBatch]].
    */
  def dedupedAppendBatch(batch: DataFrame, corpusDir: String,
                         indexDir: String, checkpointDir: String,
                         batchId: Long, idCol: String = "vec_id",
                         embCol: String = "embedding",
                         threshold: Double = 0.8, bands: Int = 8,
                         bitsPerBand: Int = 4, hashSeed: Long = 42L,
                         autoCompactSegments: Int = 0,
                         stateBuckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val tag = runTagOf(checkpointDir)
    val n = DedupIngest.admitBatchEmbedding(spark, batch, corpusDir,
      batchId, idCol, embCol, threshold, bands, bitsPerBand, hashSeed,
      runTag = tag, stateBuckets = stateBuckets)
    if (n > 0) {
      maybeCompact(spark, indexDir, s"$tag-$batchId", autoCompactSegments)
      Similarity.appendToIvfPqIndex(spark, indexDir,
        admittedOf(spark, corpusDir, s"$tag-$batchId", idCol, embCol),
        seg = Some(s"$tag-$batchId"))
    }
  }

  /** A batch's admitted survivors, re-read FROM the corpus partition
    * the admission stage committed (partition-pruned, O(batch)) — the
    * handoff that makes the two stages replay-coherent: the index
    * stage indexes what the corpus durably says was admitted, never a
    * recomputation that could diverge from it.
    */
  private def admittedOf(spark: org.apache.spark.sql.SparkSession,
                         corpusDir: String, partVal: String,
                         idCol: String, embCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(corpusDir)
      .filter(col("_ingest_batch").cast("string") === partVal)
      .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
  }

  /** The composed embedding pipeline, end to end in ONE stream:
    * vectors arrive → near-duplicates are rejected against the
    * persisted corpus ([[DedupIngest.admitBatchEmbedding]]: banded
    * sign-LSH admission, sequential semantics, O(batch) per trigger)
    * → the batch's ADMITTED survivors are appended to the serving
    * index under the same run-scoped segment. Exactly-once END TO
    * END with no coordination: both stages key every write by
    * `runTag-batchId` (admission: dynamic overwrite of its
    * `_ingest_batch` partitions; index: dynamic overwrite of its
    * seg), and the index stage re-reads the admitted rows FROM the
    * corpus partition the admission stage just committed — a
    * partition-pruned O(batch) read — so a crash anywhere in the
    * trigger replays both stages into their own partitions. Between
    * a batch landing in the corpus and its index append committing,
    * queries that need the newest vectors compose the delta form
    * ([[graft.ops.Similarity.ivfPqIndexedTopKWithDelta]]) over that
    * same corpus partition.
    *
    * Bootstrap BOTH stores from one seed with
    * [[bootstrapDedupedIvfPq]] before starting the stream — an index
    * seeded separately from the dedup corpus would let near-dups of
    * indexed vectors through. `idCol`/`embCol` name the stream's
    * vector columns and are stored under the index's standard names.
    */
  def startDedupedIvfPqAppend(stream: DataFrame, corpusDir: String,
                              indexDir: String, checkpointDir: String,
                              idCol: String = "vec_id",
                              embCol: String = "embedding",
                              threshold: Double = 0.8, bands: Int = 8,
                              bitsPerBand: Int = 4, hashSeed: Long = 42L,
                              trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                              autoCompactSegments: Int = 64,
                              queryName: Option[String] = None,
                              targetCorpus: Long = 0L,
                              stateBuckets: Int = 0): StreamingQuery = {
    val (bnd, bits) =
      if (targetCorpus > 0L) graft.ops.Dedup.annParams(targetCorpus)
      else (bands, bitsPerBand)
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupedAppendBatch(batch, corpusDir, indexDir, checkpointDir,
          batchId, idCol, embCol, threshold, bnd, bits, hashSeed,
          autoCompactSegments, stateBuckets)
      }
    queryName.fold(w)(w.queryName).start()
  }

  /** [[bootstrapDedupedIvfPq]] for the binary family: seed set
    * admitted into the dedup corpus under the reserved pre-stream
    * partition `-1`, index built over exactly the admitted
    * survivors — one origin for both stores. No quantizer to fit, so
    * the only bootstrap requirement is a non-empty admitted set
    * (an empty data tree has no schema to probe).
    */
  def bootstrapDedupedBinary(seed: DataFrame, corpusDir: String,
                             indexDir: String,
                             idCol: String = "vec_id",
                             embCol: String = "embedding",
                             threshold: Double = 0.8, bands: Int = 8,
                             bitsPerBand: Int = 4, hashSeed: Long = 42L,
                             nBits: Int = 248, dim: Int = 64,
                             stateBuckets: Int = 0): Unit = {
    val spark = seed.sparkSession
    val n = DedupIngest.admitBatchEmbedding(spark, seed, corpusDir,
      batchId = -1L, idCol, embCol, threshold, bands, bitsPerBand,
      hashSeed, stateBuckets = stateBuckets)
    require(n > 0, "bootstrapDedupedBinary: no seed rows admitted — " +
      "an empty index data tree has no schema to serve")
    Similarity.buildBinaryIndex(admittedOf(spark, corpusDir, "-1", idCol,
      embCol), indexDir, nBits = nBits, seed = hashSeed, dim = dim)
  }

  /** [[dedupedAppendBatch]] for the binary family: admit (near-dups
    * rejected against the persisted corpus), then append the batch's
    * admitted survivors to the binary index under the same
    * run-scoped segment — both stages idempotent under replay, the
    * index stage re-reading FROM the corpus partition the admission
    * stage committed.
    */
  def dedupedBinaryAppendBatch(batch: DataFrame, corpusDir: String,
                               indexDir: String, checkpointDir: String,
                               batchId: Long, idCol: String = "vec_id",
                               embCol: String = "embedding",
                               threshold: Double = 0.8, bands: Int = 8,
                               bitsPerBand: Int = 4, hashSeed: Long = 42L,
                               autoCompactSegments: Int = 0,
                               stateBuckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val tag = runTagOf(checkpointDir)
    val n = DedupIngest.admitBatchEmbedding(spark, batch, corpusDir,
      batchId, idCol, embCol, threshold, bands, bitsPerBand, hashSeed,
      runTag = tag, stateBuckets = stateBuckets)
    if (n > 0) {
      // stage labels match the admission stage's so one listener sums
      // the whole trigger
      described(spark, "index:compact")(
        maybeCompact(spark, indexDir, s"$tag-$batchId", autoCompactSegments,
          Similarity.compactBinaryIndex(_, _, _)))
      described(spark, "index:append")(
        Similarity.appendToBinaryIndex(spark, indexDir,
          admittedOf(spark, corpusDir, s"$tag-$batchId", idCol, embCol),
          seg = Some(s"$tag-$batchId")))
    }
  }

  /** [[startDedupedIvfPqAppend]] for the binary family — the composed
    * vectors-arrive → near-dups-rejected → admitted-survivors-indexed
    * pipeline with the zero-training tier as the serving index;
    * between a batch's corpus commit and its index append, freshness
    * queries compose [[graft.ops.Similarity.binaryIndexedTopKWithDelta]]
    * over the same corpus partition.
    */
  def startDedupedBinaryAppend(stream: DataFrame, corpusDir: String,
                               indexDir: String, checkpointDir: String,
                               idCol: String = "vec_id",
                               embCol: String = "embedding",
                               threshold: Double = 0.8, bands: Int = 8,
                               bitsPerBand: Int = 4, hashSeed: Long = 42L,
                               trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                               autoCompactSegments: Int = 64,
                               queryName: Option[String] = None,
                               targetCorpus: Long = 0L,
                               stateBuckets: Int = 0): StreamingQuery = {
    val (bnd, bits) =
      if (targetCorpus > 0L) graft.ops.Dedup.annParams(targetCorpus)
      else (bands, bitsPerBand)
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupedBinaryAppendBatch(batch, corpusDir, indexDir, checkpointDir,
          batchId, idCol, embCol, threshold, bnd, bits, hashSeed,
          autoCompactSegments, stateBuckets)
      }
    queryName.fold(w)(w.queryName).start()
  }

  /** Streaming RETRACTION for the composed deduped→indexed pipelines:
    * a deletes-stream (one id column) drives BOTH halves of a takedown
    * per micro-batch — [[DedupIngest.retractNearDup]] removes the
    * documents and their band postings (so near-dups of retracted
    * vectors re-admit), and [[graft.ops.Similarity.deleteFromIndex]]
    * tombstones the ids in the serving index (probes shadow them
    * immediately; the next compaction purges). Exactly-once under
    * crash-replay by each half's own mechanism: retraction is a set
    * operation (removing already-removed ids is a no-op), and the
    * tombstone write is a dynamic overwrite of the run-scoped
    * `del-<tag>-<batchId>` segment — a replay overwrites itself.
    *
    * Contracts inherited and sharpened: single writer per corpus —
    * run retraction triggers BETWEEN admission triggers, never
    * concurrently with them (a replayed admission batch would
    * resurrect rows retracted from its own partition); and tombstones
    * shadow by id, so an id RE-ADMITTED after its retraction stays
    * invisible in the index until a compaction purges the tombstone —
    * under the admission path's monotone-id contract ids are never
    * reused, so this arises only on out-of-contract streams.
    */
  def startDedupedRetraction(deletes: DataFrame, corpusDir: String,
                             indexDir: String, checkpointDir: String,
                             idCol: String = "vec_id",
                             bandsSuffix: String = "_sbands",
                             trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val tag = runTagOf(checkpointDir)
    deletes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ids = batch.select(col(idCol)).distinct().localCheckpoint()
        DedupIngest.retractNearDup(spark, corpusDir, ids, idCol, bandsSuffix)
        Similarity.deleteFromIndex(spark, indexDir,
          ids.select(col(idCol).as("vec_id")),
          seg = Some(s"del-$tag-$batchId"))
        ()
      }
      .start()
  }

  /** Run tag = checkpoint identity — [[DedupIngest.runTagOf]], the
    * ONE shared derivation: stable across resume of the same
    * checkpoint (replays land on their own segments), distinct across
    * fresh checkpoints (a new run's batch 0 never overwrites an old
    * run's batch 0 — old segments stay as ordinary corpus content,
    * which is correct: the rows ARE in the index). Sharing matters
    * beyond taste: [[dedupedAppendBatch]] passes this tag into the
    * admission stage as its `runTag`, so two implementations that
    * ever diverged would key a resumed composed pipeline's admission
    * partitions and index segments under DIFFERENT tags than prior
    * runs — silently breaking replay-overwrites-itself.
    */
  private def runTagOf(checkpointDir: String): String =
    DedupIngest.runTagOf(checkpointDir)
}
