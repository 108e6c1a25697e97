package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import graft.GraftSession.described
import graft.ingest.KlineIngest
import graft.sinks.Routing

/** The reference's jobs as single compositions — what a user of
  * JulienDira/big-data-streaming runs after switching engines.
  *
  * `streaming-longtime.py` ≙ [[longtime]]: Kafka-shaped stream →
  * parse → enrich → keyed dedup (upgrade: the reference stores the
  * duplicates) → one partitioned routed write per micro-batch,
  * checkpointed (upgrade: the reference has no checkpoint and runs
  * O(groups) jobs per batch).
  *
  * [[longtimeJdbc]] is the same job into the EXACTLY-ONCE database
  * sink (`Routing.upsertJdbc`, keyed MERGE): the end-to-end
  * reference-parity flagship — every stage boundary survives a crash
  * because every stage is either deterministic replay (parse/enrich
  * are plan fragments), checkpoint-rolled-back state (the dedup
  * store), or an idempotent effect (re-MERGEing a replayed batch
  * rewrites the same keys to the same values). Crash injection at
  * each boundary is exercised in `KlinePipelineE2eSpec`.
  *
  * `streaming-shorttime.py` ≙ the same with the Avro archive sink
  * (`sinks.AvroSink`) in the foreachBatch body.
  * `streaming-longtime-raw.py` ≙ `etl.IncrementalEtl`.
  */
object KlinePipeline {

  /** Build the transform side (stream or batch frame in, enriched
    * deduplicated frame out). */
  def enriched(kafkaShaped: DataFrame, dedup: Boolean = true): DataFrame = {
    val e = KlineIngest.enrich(KlineIngest.parse(kafkaShaped))
    if (dedup) KlineIngest.dedupStream(e) else e
  }

  /** Full long-time job: returns the ready-to-`start()` writer. */
  def longtime(kafkaShaped: DataFrame, outPath: String,
               checkpointDir: String): DataStreamWriter[Row] =
    Routing.routedParquet(enriched(kafkaShaped), outPath, checkpointDir)

  /** A kline bar's natural key: one row per (coin, interval, open
    * time) — what the MERGE upserts on, and the same key the stream
    * dedup stage uses, so both layers agree on row identity.
    */
  val KlineKey: Seq[String] = Seq("coin", "interval", "timestamp")

  /** Derby/ANSI DDL for the enriched kline row ([[enriched]]'s
    * schema). Identifiers quoted UPPERCASE — half the kline columns
    * are SQL reserved words (TIMESTAMP, OPEN, CLOSE, YEAR, ...), and
    * uppercase matches what unquoted DDL would fold to, which is the
    * convention `Routing.upsertStatement`'s MERGE quotes against.
    *
    * The UNIQUE constraint on [[KlineKey]] gives Derby a backing index,
    * so the sink's exact-key MERGE (every row whose key has no NULL)
    * is an index lookup instead of a table scan; without it a batch
    * costs O(rows × table). It also makes a duplicate key fail loudly
    * (SQLState 23505) instead of stacking. A UNIQUE constraint on
    * nullable columns admits any number of rows with a NULL key
    * column, so the malformed rows the permissive parse turns into
    * NULL keys are still stored, through the null-safe MERGE. A table
    * created before the constraint was added has no index: it stays
    * correct but every MERGE row scans it. `Routing.upsertJdbc`'s
    * one-writer Derby clamp was measured before the index existed
    * and is kept, not re-measured.
    */
  val KlineDdl: String =
    """"COIN" VARCHAR(32), "TIMESTAMP" TIMESTAMP, "OPEN" DOUBLE,
      |"HIGH" DOUBLE, "LOW" DOUBLE, "CLOSE" DOUBLE, "VOLUME" DOUBLE,
      |"CLOSE_TIME" TIMESTAMP, "QUOTE_ASSET_VOLUME" DOUBLE,
      |"NUMBER_OF_TRADES" INTEGER, "TAKER_BUY_BASE_ASSET_VOLUME" DOUBLE,
      |"TAKER_BUY_QUOTE_ASSET_VOLUME" DOUBLE, "IGNORE" VARCHAR(8),
      |"INTERVAL" VARCHAR(8), "YEAR" INTEGER, "MONTH" INTEGER,
      |UNIQUE ("COIN", "INTERVAL", "TIMESTAMP")""".stripMargin

  /** One micro-batch of the JDBC flagship — exposed so the e2e spec
    * (and manual backfills) can drive the exact code path the stream
    * runs, including replaying a batch whose sink write landed but
    * whose checkpoint commit did not. Ensures the table on every call
    * (the stream does it once per run), then runs the batch's one
    * Spark job.
    */
  def upsertBatch(batch: DataFrame, jdbcUrl: String, table: String,
                  props: java.util.Properties): Unit =
    // the reference's driver-side schema guard (streaming-longtime.py:115)
    if (KlineIngest.hasRequiredColumns(batch)) {
      Routing.ensureTable(jdbcUrl, table, KlineDdl, props)
      upsert(batch, jdbcUrl, table, props)
    }

  /** The batch's one Spark job, labelled `sink:upsert`. The reference
    * also skips an empty batch (streaming-longtime.py:116-117); here
    * the write itself is that check, because `Routing.upsertJdbc`
    * opens no connection for a partition without rows. An emptiness
    * probe of its own would be a second job that runs the trigger's
    * whole plan — the dedup shuffle and state store included — again.
    * A no-data trigger still runs this job: it is what commits the
    * dedup state the watermark evicts.
    */
  private def upsert(batch: DataFrame, jdbcUrl: String, table: String,
                     props: java.util.Properties): Unit =
    described(batch.sparkSession, "sink:upsert")(
      Routing.upsertJdbc(batch, jdbcUrl, table, KlineKey, props))

  /** Full long-time job into the exactly-once JDBC sink: parse →
    * enrich → keyed dedup → per-batch MERGE upsert on [[KlineKey]],
    * checkpointed. Returns the ready-to-`start()` writer.
    *
    * `chaosAfterSink` is a FAULT-INJECTION seam for the e2e spec: it
    * runs after the batch's database effect and before the engine
    * records the epoch, so a test can throw there to simulate the
    * hardest crash window (effect landed, checkpoint did not) and
    * assert the replay converges. Production callers leave the
    * default no-op.
    */
  def longtimeJdbc(kafkaShaped: DataFrame, jdbcUrl: String, table: String,
                   props: java.util.Properties, checkpointDir: String,
                   dedup: Boolean = true,
                   chaosAfterSink: Long => Unit = _ => ()): DataStreamWriter[Row] = {
    // the table DDL runs once per started query, on its first trigger,
    // not once per trigger. Every run of a query executes its batches
    // in a session of its own (the engine clones one at start), so a
    // session seen before is a trigger of a run that already ensured
    // the table; weak keys let a stopped run's session be collected
    val ensured = java.util.Collections.synchronizedSet(java.util.Collections
      .newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))
    enriched(kafkaShaped, dedup).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (KlineIngest.hasRequiredColumns(batch)) {
          if (!ensured.contains(batch.sparkSession)) {
            Routing.ensureTable(jdbcUrl, table, KlineDdl, props)
            ensured.add(batch.sparkSession)
          }
          upsert(batch, jdbcUrl, table, props)
        }
        chaosAfterSink(batchId)
      }
  }
}
