package graft.pipelines

import org.apache.spark.sql.DataFrame
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
    * whose checkpoint commit did not. Its two Spark jobs are labelled
    * `sink:nonempty` (the emptiness guard) and `sink:upsert`.
    */
  def upsertBatch(batch: DataFrame, jdbcUrl: String, table: String,
                  props: java.util.Properties): Unit = {
    val spark = batch.sparkSession
    // the reference's per-batch guards (streaming-longtime.py:115-117):
    // driver-side schema check, emptiness without a count
    if (KlineIngest.hasRequiredColumns(batch) &&
        !described(spark, "sink:nonempty")(batch.isEmpty)) {
      Routing.ensureTable(jdbcUrl, table, KlineDdl, props)
      described(spark, "sink:upsert")(
        Routing.upsertJdbc(batch, jdbcUrl, table, KlineKey, props))
    }
  }

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
                   chaosAfterSink: Long => Unit = _ => ()): DataStreamWriter[Row] =
    enriched(kafkaShaped, dedup).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, jdbcUrl, table, props)
        chaosAfterSink(batchId)
      }
}
