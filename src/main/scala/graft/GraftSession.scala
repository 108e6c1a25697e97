package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Every entry point (Verify, Bench, tests) goes through [[tune]] so the
  * whole library runs under one configuration posture:
  *
  *  - AQE on (runtime partition coalescing + skew-join splitting) — at
  *    100 TB the static shuffle-partition guess is always wrong somewhere.
  *  - UTC session timezone — oracle (DuckDB) parity for date/time exprs.
  *  - `nanosAsLong` — the `events` fixture carries TIMESTAMP(NANOS) which
  *    Spark does not map to a timestamp type; we read raw epoch-nanos
  *    longs and convert explicitly (mirrors the reference's epoch-ms
  *    ingestion, /root/reference/spark/streaming-longtime.py:60-61).
  *  - 64 MiB broadcast threshold — every dimension table in the star
  *    schema (part/customer/nation/region/supplier) broadcasts; only
  *    fact–fact joins shuffle.
  */
object GraftSession {

  /** Label the Spark jobs `body`'s actions spawn with `desc` (the
    * `spark.job.description` the Spark UI and listeners show), so a
    * pipeline's per-trigger time can be split per step instead of
    * guessed from job counts. Costs a local-property set per call,
    * nothing per row. A listener keyed on the description sums the
    * labels per stage (the per-stage tables in SCALE.md, "Streaming
    * performance").
    */
  def described[T](spark: SparkSession, desc: String)(body: => T): T = {
    // restore, not clear: the streaming engine labels every job of a
    // trigger with its batch description, and the jobs after this
    // action belong to the same trigger
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Shuffle codec stays lz4 (guide §2.3; r14 VERDICT #4 — measured,
    // REJECTED): zstd cuts shuffle bytes written 29 % (deterministic
    // task-metrics sum: tfidf −59 %, agg_having −42 %) and is
    // wall-neutral at sf0.1, but the paired ABBA re-run at sf25 priced
    // the CPU+width cost where shuffles are big enough to matter:
    // sql_q5_local_supplier 9.2 → 18.0 s (1.95×), join_semi_exists
    // 13.2 → 15.3 s, 5-entry set 1.17× (paired warm process legs).
    // The byte cut is a genuine network-bound-cluster lever, so the
    // conf stays overridable per process (sys.props fallback is what a
    // tools.StageProbe codec leg sets through
    // SPARK_GRAFT_EXTRA_JAVA_OPTS) — but the default must not tax the
    // measured CPU-bound posture for an unmeasured one.
    .config("spark.io.compression.codec",
      sys.props.getOrElse("spark.io.compression.codec", "lz4"))
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // runtime filtering: a selective dim-side predicate injects a bloom
    // filter into the fact scan (cuts shuffle input before the join) —
    // free at this scale, decisive at 100 TB
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // ObjectHashAggregate (TypedImperativeAggregate: the top-k heap,
    // KLL / HLL sketches) silently degrades to SORT-based aggregation
    // past 128 distinct keys by default — that re-sorts the whole
    // input stream the bounded-buffer design exists to avoid. Raise
    // the fallback, but keep it MEMORY-BOUNDED: worst-case hash-map
    // footprint ≈ threshold × largest object buffer. Our largest
    // buffer is the KLL/HLL sketch at ~2 KiB ⇒ 65536 × 2 KiB ≈
    // 128 MiB per task — safe on a 4 GiB-per-core executor. The old
    // 4M global would have allowed ~8 GiB/task of sketch buffers
    // (executor OOM at 100 TB cardinalities, r3 ADVICE); past 64k
    // groups the sort fallback is the correct spill-safe behavior.
    // CONSTRAINT on future aggregates: the 128 MiB bound assumes no
    // object buffer exceeds ~2 KiB. An aggregate with a larger
    // buffer must bound groups-per-task instead — the r7 sf25 sweep
    // proved the failure mode (rerank-tier top-k: 16·k-byte buffers ×
    // 10k groups × 32 tasks killed the context) and the fix shape:
    // lazy buffer growth (TopKPairsAgg.Buf) plus deterministic query
    // chunking at the call site (Similarity.queryChunks).
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    // Recursive-CTE working sets scale with the data: the 1M-row
    // default safety valve fails sql_recursive_cte at sf25 (6-level
    // order-chain expansion over 37.5M orders). 100M rows ≈ a few GiB
    // of intermediate state — a deliberate engine-level ceiling, high
    // enough for the catalog's recursions at any tested scale, still
    // finite so a runaway recursion cannot eat the cluster.
    .config("spark.sql.cteRecursionRowLimit", "100000000")
    .config("spark.ui.enabled", "false")

  /** [[tune]] plus DATA-SIZED shuffle width: AQE's
    * `initialPartitionNum` set from the fixture directory's on-disk
    * bytes (one partition per 32 MiB of source data, clamped to
    * [cores, 512]), with the advisory target at 32 MiB so coalescing
    * keeps reduce partitions small enough that their UNCOMPRESSED
    * working set fits task execution memory.
    *
    * Why not a static value: the pinned `shuffle.partitions = cores`
    * is right at gate scale (any wider and task overhead dominates —
    * a static 128/32 MiB A/B measured the sf0.1 catalog +45 %), but at
    * sf25 it caps reduce-side parallelism at 32 tasks of ~65 MB
    * compressed ⇒ 300+ MB uncompressed hash/sort working sets that
    * spill 2–3 GB per stage (stage table in SCALE.md). Sizing the
    * INITIAL width to the data and letting AQE coalesce down is the
    * production rule ("post-shuffle partitions in the 64–256 MiB
    * range"), made deterministic here from the fixture bytes: resolves
    * to exactly `cores` (no behavior change) at sf ≤ 1, 128+ at sf25
    * where it cut join_shuffle_agg 14.7→12.9 s and Q5 14.1→12.0 s.
    * At 100 TB the same rule sizes the width from table statistics —
    * the point is the WIDTH TRACKS THE DATA, not a constant.
    */
  def tuneFor(b: SparkSession.Builder, dataDir: String,
              cores: Int): SparkSession.Builder = {
    // recursive sum of REGULAR files only: a partitioned or nested
    // table layout puts the data arbitrarily deep, and File.length()
    // on a directory returns the ~4KB inode size — a one-level sum
    // silently under-sizes initialPartitionNum there (r8 ADVICE).
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids == null) 0L else kids.map(sizeOf).sum
      } else f.length()
    val bytes =
      try {
        val d = new java.io.File(dataDir)
        if (d.isDirectory)
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(sizeOf).sum
        else 0L
      } catch { case _: Throwable => 0L }
    val initParts = math.max(cores.toLong,
      math.min(512L, bytes / (32L * 1024 * 1024)))
    val t = tune(b)
    if (initParts > cores)
      t.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          initParts.toString)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          (32L * 1024 * 1024).toString)
    else t
  }

  /** Streaming state posture for state that outgrows executor heap.
    *
    * The default HDFS-backed state store keeps every key IN MEMORY on
    * the executor and snapshots the full map per checkpoint — fine for
    * bounded window state, fatal for the corpus-as-state shapes this
    * engine runs (streaming dedup admission holds one entry per corpus
    * key; at 100 TB that is billions of keys, far past any heap).
    * RocksDB keeps state on local SSD with a block-cache in native
    * memory (size-bounded, heap-independent), and CHANGELOG
    * checkpointing makes the per-trigger durable write proportional to
    * the keys CHANGED in that trigger, not to total state — the same
    * O(batch)-not-O(corpus) rule the Bloom-tiered dedup ingest follows
    * ([[graft.etl.DedupIngest]] scaladoc).
    *
    * Exposed as a SEPARATE tweak, not folded into [[tune]]: the
    * provider is a per-query planning choice (read when a stream
    * starts), and small-state pipelines keep the simpler in-heap
    * provider. Apply to a builder, or flip the same keys on a live
    * session's `spark.conf` before `start()` — asserted working in
    * `StreamingSpec`.
    */
  def rocksDbState(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")

  /** The session every command-line main (Bench, Verify, Explain and
    * the `graft.tools` harnesses) runs under: `local[cores]` with cores
    * from `SPARK_GRAFT_CPUS` (default 4), shuffle partitions = cores,
    * [[tuneFor]] on `dataDir`, and Spark's log level set to
    * `logLevel`. One builder, so an A/B or a plan dump sees exactly the
    * configuration Bench measures. A `dataDir` with no parquet under it
    * (the streaming harness passes "") sizes the shuffle width to the
    * cores, as [[tune]] does.
    */
  def forMain(dataDir: String, logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val s = tuneFor(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString),
      dataDir, cpus
    ).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Local session for tests / ad-hoc runs. Shuffle partitions = cores:
    * on a real cluster this would instead be sized to keep post-shuffle
    * partitions in the 64–256 MiB range (AQE coalesces the remainder).
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.warehouse.dir",
          s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
