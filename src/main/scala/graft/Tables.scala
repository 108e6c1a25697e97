package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixtures
  * (`/root/testdata/sf*`, TESTDATA.md). All scans are plain parquet
  * reads so Catalyst's filter pushdown / column pruning reach the
  * scan node — callers filter/select on the returned frame and the
  * predicate lands in `PushedFilters`.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // schema memoized per path (r14 optimization): every read.parquet
    // call re-infers the schema from a parquet footer on the driver —
    // pure latency repeated a few hundred times across a catalog run.
    // Fixtures are immutable driver-generated data (the cachedCount
    // contract below), so the memo can never go stale within a run;
    // anything mutable must use spark.read.parquet directly.
    val schema = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Drop every memoized footer schema — the [[Similarity.clearModelCache]]
    * twin (r14 ADVICE: the memo is keyed by path only and never
    * invalidated, so a test/tool that regenerates a fixture in-JVM
    * with a different schema, or a second session with different
    * parquet-inference confs, would silently read under the stale
    * schema). Engine query paths never rewrite fixtures; this hook is
    * for the tools/suites that do. */
  def clearSchemaCache(): Unit = schemaCache.clear()

  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Row count of a fixture table, memoized per (dir, name) for the
    * life of the JVM. Several catalog queries size themselves from a
    * fixture cardinality (rerank tiers, nlist, adaptive LSH bits) —
    * each previously paid its own count job per run (parquet-metadata
    * fast, but one scheduling round-trip per query, VERDICT r7 minor).
    * Fixtures are immutable driver-generated data, so the memo can
    * never go stale within a run; anything mutable must use
    * `df.count()` directly.
    */
  def cachedCount(spark: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent(s"$dir/$name",
      _ => table(spark, dir, name).count())

  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Register every fixture as a temp view so users can work through
    * `spark.sql(...)` — the reference's users write SQL-ish PySpark;
    * this is the drop-in SQL surface (plus graft_* functions from
    * GraftExtensions).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    All.foreach { n =>
      val df = if (n == "events") eventsRaw(spark, dir) else table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** Raw events with `ts` normalized to epoch-nanos LongType regardless of
    * fixture vintage (FIXTURES.md §1, the kline-stream stand-in):
    *
    *  - older fixtures carry parquet TIMESTAMP(NANOS), which Spark cannot
    *    represent as a timestamp — GraftSession's `nanosAsLong` surfaces
    *    it as epoch-nanos BIGINT already (no-op here);
    *  - current fixtures carry `timestamp[us]`, read natively as
    *    TIMESTAMP_NTZ — convert with `unix_micros` (exact integer math;
    *    NTZ→TIMESTAMP cast is identity under the UTC session timezone)
    *    and scale to nanos so every downstream `ts div 1000000` /
    *    `ts div 86400000000000` derivation is vintage-independent.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(table(spark, dir, "events"))

  /** The vintage normalization projection alone (no filter). Matches
    * EXPLICITLY on the two known timestamp vintages and fails loudly
    * on anything else — a string/double `ts` would otherwise cast to
    * NULL silently at runtime, and the schema guard in
    * `FixtureSchemaSpec` does not run in the Verify/Bench entry
    * points.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported dtype $other; expected BIGINT " +
            "(epoch-nanos vintage) or TIMESTAMP/TIMESTAMP_NTZ (micros vintage)")
    }

  /** [[eventsRaw]] with a lower time bound that REACHES THE PARQUET
    * SCAN. The normalization projection rewrites `ts`, so a range
    * predicate on the normalized column is evaluated post-scan — at
    * 100 TB that is a full scan where row-group min/max pruning should
    * have skipped nearly everything (the reference pushes the same
    * watermark bound into its source,
    * /root/reference/spark/streaming-longtime-raw.py:132-137). Here
    * the CONSTANT is transposed instead of the column: the epoch-nanos
    * bound is converted to the fixture's native dtype and applied to
    * the raw column BEFORE the projection, so it lands in
    * `PushedFilters` (asserted in PlansSpec). The conversion is exact
    * and monotonic, so rows are identical to post-filtering.
    */
  def eventsRawSince(spark: SparkSession, dir: String, boundNs: Long): DataFrame = {
    val df = table(spark, dir, "events")
    val rawBound: Column = df.schema("ts").dataType match {
      case LongType => lit(boundNs)
      case TimestampType =>
        lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(boundNs, 1000000000L), Math.floorMod(boundNs, 1000000000L)))
      case TimestampNTZType =>
        lit(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(boundNs, 1000000000L), Math.floorMod(boundNs, 1000000000L).toInt,
          java.time.ZoneOffset.UTC))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported dtype $other; expected BIGINT " +
            "(epoch-nanos vintage) or TIMESTAMP/TIMESTAMP_NTZ (micros vintage)")
    }
    normalizeTs(df.filter(col("ts") >= rawBound))
  }

  /** Events with event-time materialized: epoch-ms long (`ts_ms`, exact
    * integer arithmetic — safe for oracle comparison) and a proper
    * timestamp column (`event_ts`) for window functions. Equivalent of
    * the reference's epoch→timestamp enrichment
    * (/root/reference/spark/streaming-longtime.py:60-63).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir)
      .withColumn("ts_ms", expr("ts div 1000000"))
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
}
