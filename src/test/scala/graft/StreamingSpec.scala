package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.etl.IncrementalEtl
import graft.ingest.KlineIngest
import graft.sinks.Routing

/** Streaming semantics the oracle can't express (SURVEY.md §5.4):
  * micro-batch dedup across batches, checkpointed exactly-once
  * incremental ETL, partitioned routing sink.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def klineJson(coin: String, interval: String, ts: Long): String =
    s"""{"coin":"$coin","timestamp":$ts,"open":1.0,"high":2.0,"low":0.5,
       |"close":1.5,"volume":10.0,"close_time":${ts + 59999},
       |"quote_asset_volume":15.0,"number_of_trades":7,
       |"taker_buy_base_asset_volume":4.0,"taker_buy_quote_asset_volume":6.0,
       |"ignore":"0","interval":"$interval"}""".stripMargin.replaceAll("\n", "")

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("watermarked dedup drops duplicates within and across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val deduped = KlineIngest.dedupStream(
      KlineIngest.enrich(KlineIngest.parse(
        ms.toDF().select(col("value").cast("binary").as("value")))))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-dedup")).start()
    try {
      val t0 = 1704067200000L
      // batch 1: two distinct klines + an in-batch duplicate
      ms.addData(klineJson("BTC", "1m", t0), klineJson("BTC", "1m", t0),
        klineJson("ETH", "1m", t0))
      q.processAllAvailable()
      // batch 2: re-delivery of batch 1 (Binance overlapping fetch) + one new
      ms.addData(klineJson("BTC", "1m", t0), klineJson("ETH", "1m", t0),
        klineJson("BTC", "1m", t0 + 60000))
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("coin", "interval", "timestamp").collect()
      assert(rows.length == 3, s"expected 3 unique klines, got ${rows.length}")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dedup state is evicted past the delay") {
    // the modern dedup API: guarantees within-delay duplicates are
    // dropped AND state is evicted after it — so a key re-arriving far
    // beyond the watermark is admitted again (bounded state, the
    // property plain dropDuplicates only gets implicitly). Pinning
    // both sides of that contract.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double)]
    val deduped = ms.toDF().toDF("coin", "ts_ms", "px")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("coin")
    val q = deduped.writeStream.format("memory").queryName("ddww_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-ddww")).start()
    try {
      val t0 = 1704067200000L
      ms.addData(("BTC", t0, 1.0), ("BTC", t0 + 1000, 2.0)) // dup within delay
      q.processAllAvailable()
      ms.addData(("BTC", t0 + 2000, 3.0))                   // still within delay
      q.processAllAvailable()
      // advance the watermark far past t0, evicting BTC's entry …
      ms.addData(("ADV", t0 + 600000, 0.0))
      q.processAllAvailable()
      // … so this re-arrival is a NEW row, not a duplicate
      ms.addData(("BTC", t0 + 601000, 4.0))
      q.processAllAvailable()
      val btc = spark.table("ddww_out").filter(col("coin") === "BTC")
        .select("px").collect().map(_.getDouble(0)).toSet
      assert(btc == Set(1.0, 4.0), s"got $btc")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped, not deduped-and-emitted") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val deduped = KlineIngest.dedupStream(
      KlineIngest.enrich(KlineIngest.parse(
        ms.toDF().select(col("value").cast("binary").as("value")))),
      watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("late_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-late")).start()
    try {
      val t0 = 1704067200000L
      ms.addData(klineJson("BTC", "1m", t0))
      q.processAllAvailable()
      // advance event-time watermark to t0 + 5h - 1h = t0 + 4h
      ms.addData(klineJson("BTC", "1m", t0 + 5 * 3600000L))
      q.processAllAvailable()
      // a record 2h BEFORE the watermark: must be dropped silently
      ms.addData(klineJson("ETH", "1m", t0 + 2 * 3600000L))
      q.processAllAvailable()
      val rows = spark.table("late_out").select("coin").collect().map(_.getString(0))
      assert(rows.sorted.toSeq == Seq("BTC", "BTC"), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("incremental ETL is exactly-once across runs (checkpoint replaces timestamps.json)") {
    val src = tmp("etl-src"); val dst = tmp("etl-dst"); val cp = tmp("etl-cp")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType)))

    Seq((1L, "a"), (2L, "b")).toDF("id", "part")
      .write.mode("append").parquet(src)
    IncrementalEtl.runAvailableNow(spark, src, schema, dst, cp, Seq("part"))
    assert(spark.read.parquet(dst).count() == 2)

    Seq((3L, "a")).toDF("id", "part").write.mode("append").parquet(src)
    IncrementalEtl.runAvailableNow(spark, src, schema, dst, cp, Seq("part"))
    val after = spark.read.parquet(dst)
    assert(after.count() == 3, "second pass must pick up ONLY the new file")
    assert(after.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))

    // idempotent re-run with nothing new
    IncrementalEtl.runAvailableNow(spark, src, schema, dst, cp, Seq("part"))
    assert(spark.read.parquet(dst).count() == 3)
  }

  test("tumbling event-time window aggregation over a stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val enriched = KlineIngest.enrich(KlineIngest.parse(
      ms.toDF().select(col("value").cast("binary").as("value"))))
    val agg = enriched
      .withWatermark("timestamp", "10 minutes")
      .groupBy(window(col("timestamp"), "1 hour"), col("coin"))
      .agg(sum(col("volume")).as("volume"), count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete")
      .option("checkpointLocation", tmp("cp-win")).start()
    try {
      val t0 = 1704067200000L // top of an hour
      ms.addData(klineJson("BTC", "1m", t0), klineJson("BTC", "1m", t0 + 60000),
        klineJson("BTC", "1m", t0 + 3600000), klineJson("ETH", "1m", t0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => (r.getAs[org.apache.spark.sql.Row]("window").getAs[java.sql.Timestamp](0).getTime,
          r.getAs[String]("coin"), r.getAs[Double]("volume"), r.getAs[Long]("n")))
      assert(rows.toSet == Set(
        (t0, "BTC", 20.0, 2L), (t0 + 3600000, "BTC", 10.0, 1L), (t0, "ETH", 10.0, 1L)))
    } finally q.stop()
  }

  test("stateful aggregation runs on the RocksDB state store with changelog checkpoints") {
    // GraftSession.rocksDbState is the large-state posture (state on
    // local disk, per-trigger durable writes ∝ changed keys). The
    // provider is read when a stream STARTS, so it can be flipped on a
    // live session; this pins (a) identical results to the in-heap
    // provider and (b) that the checkpoint actually carries RocksDB
    // changelog/snapshot artifacts, not HDFS-provider deltas.
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelogKey, "true")
    val ckpt = tmp("cp-rocksdb")
    try {
      val ms = MemoryStream[(Long, Double)]
      val agg = ms.toDF().toDF("ts_ms", "v")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("v"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName("rocks_out")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      try {
        val t0 = 1704067200000L
        ms.addData((t0, 1.0), (t0 + 60000L, 2.0))
        q.processAllAvailable()
        ms.addData((t0 + 120000L, 4.0), (t0 + 3600000L, 8.0)) // same + next window
        q.processAllAvailable()
        val rows = spark.table("rocks_out").collect()
          .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
            .getAs[java.sql.Timestamp](0).getTime,
            r.getAs[Double]("total"), r.getAs[Long]("n")))
        assert(rows.toSet == Set((t0, 7.0, 3L), (t0 + 3600000, 8.0, 1L)),
          "cross-batch state accumulation wrong under RocksDB")
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val stateFiles = java.nio.file.Files
        .walk(java.nio.file.Paths.get(ckpt, "state"))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      assert(stateFiles.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
        s"no RocksDB changelog/snapshot artifacts in the state dir: $stateFiles")
      assert(!stateFiles.exists(_.endsWith(".delta")),
        "HDFS-provider delta files present — the RocksDB provider was not used")
    } finally {
      prior match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.unset(changelogKey)
    }
  }

  test("windowed KLL sketches in a streaming aggregation (mergeable state per window)") {
    // the rollup-table pattern UNDER a stream: each event-time window
    // accumulates a KLL sketch (TypedImperativeAggregate state in the
    // state store), so downstream can merge windows without raw rows
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val agg = ms.toDF().toDF("ts_ms", "v")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("v"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.QuantileSketch.kllAgg(col("v")).as("sk"),
        count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("kll_win")
      .outputMode("complete")
      .option("checkpointLocation", tmp("cp-kllwin")).start()
    try {
      val t0 = 1704067200000L
      ms.addData((1 to 100).map(i => (t0 + i * 1000L, i.toDouble)): _*)
      ms.addData((1 to 50).map(i => (t0 + 3600000L + i * 1000L, 1000.0 + i)): _*)
      q.processAllAvailable()
      val rows = spark.table("kll_win")
        .select(col("n"),
          graft.functions.QuantileSketch.kllQuantile(col("sk"), 0.5).as("p50"))
        .collect().map(r => (r.getAs[Long]("n"), r.getAs[Double]("p50"))).sortBy(_._1)
      assert(rows.length == 2)
      assert(rows(1)._1 == 100L && math.abs(rows(1)._2 - 50.0) <= 5.0)
      assert(rows(0)._1 == 50L && math.abs(rows(0)._2 - 1025.0) <= 3.0)
    } finally q.stop()
  }

  test("chained windowed aggregations: 1-minute pre-agg re-rolled to 5-minute windows") {
    // two stateful operators in one streaming query (Spark ≥3.4 in
    // append mode): the fine window pre-aggregates — at scale that is
    // the map-side reduction — and window_time() feeds the coarse
    // roll-up. Both finalize as the watermark passes.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double)]
    val fine = ms.toDF().toDF("coin", "ts_ms", "vol")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 minute"), col("coin"))
      .agg(sum(col("vol")).as("vol1m"))
    val coarse = fine
      .groupBy(window(window_time(col("window")), "5 minutes"), col("coin"))
      .agg(sum(col("vol1m")).as("vol5m"), count(lit(1)).as("n_minutes"))
    val q = coarse.writeStream.format("memory").queryName("chain_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-chain")).start()
    try {
      val t0 = 1704067200000L // top of an hour
      ms.addData(("BTC", t0, 1.0), ("BTC", t0 + 60000, 2.0),
        ("BTC", t0 + 120000, 4.0), ("ETH", t0, 8.0))
      q.processAllAvailable()
      // advance the watermark far enough to close both window layers
      ms.addData(("ZZZ", t0 + 900000, 0.0))
      q.processAllAvailable()
      ms.addData(("ZZZ", t0 + 1800000, 0.0))
      q.processAllAvailable()
      val rows = spark.table("chain_out").collect()
        .map(r => (r.getAs[org.apache.spark.sql.Row]("window").getAs[java.sql.Timestamp](0).getTime,
          r.getAs[String]("coin"), r.getAs[Double]("vol5m"), r.getAs[Long]("n_minutes"))).toSet
      assert(rows.contains((t0, "BTC", 7.0, 3L)) && rows.contains((t0, "ETH", 8.0, 1L)),
        s"unexpected: $rows")
    } finally q.stop()
  }

  test("stream-static join: stream enriched against a dimension table") {
    implicit val ctx = spark.sqlContext
    val dim = Seq(("BTC", "Bitcoin"), ("ETH", "Ethereum")).toDF("coin", "name")
    val ms = MemoryStream[String]
    val enriched = KlineIngest.enrich(KlineIngest.parse(
      ms.toDF().select(col("value").cast("binary").as("value"))))
      .join(broadcast(dim), Seq("coin"), "left")
    val q = enriched.select("coin", "name", "volume")
      .writeStream.format("memory").queryName("dim_out").outputMode("append")
      .option("checkpointLocation", tmp("cp-dim")).start()
    try {
      ms.addData(klineJson("BTC", "1m", 1704067200000L),
        klineJson("XRP", "1m", 1704067200000L))
      q.processAllAvailable()
      val rows = spark.table("dim_out").collect()
        .map(r => (r.getAs[String]("coin"), r.getAs[String]("name"))).toSet
      assert(rows == Set(("BTC", "Bitcoin"), ("XRP", null)))
    } finally q.stop()
  }

  test("stream-stream interval join: trades enriched by quotes within the bound") {
    // the §2.7 built-in the reference never exercises: two watermarked
    // streams equi-joined on key with an event-time range condition —
    // Spark keeps only the watermark-bounded state on each side.
    implicit val ctx = spark.sqlContext
    val trades = MemoryStream[(String, Long, Double)]
    val quotes = MemoryStream[(String, Long, Double)]
    val t = trades.toDF().toDF("coin", "t_ms", "qty")
      .withColumn("t_time", timestamp_millis(col("t_ms")))
      .withWatermark("t_time", "1 minute")
    val qs = quotes.toDF().toDF("q_coin", "q_ms", "px")
      .withColumn("q_time", timestamp_millis(col("q_ms")))
      .withWatermark("q_time", "1 minute")
    val joined = t.join(qs,
      col("coin") === col("q_coin") &&
        col("q_time") >= col("t_time") - expr("INTERVAL 10 SECONDS") &&
        col("q_time") <= col("t_time"))
      .select("coin", "t_ms", "qty", "q_ms", "px")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-ssj")).start()
    try {
      val t0 = 1704067200000L
      quotes.addData(("BTC", t0 - 5000, 100.0),  // in range for t0
        ("BTC", t0 - 20000, 99.0),               // too old
        ("ETH", t0 - 1000, 50.0))                // wrong key for the trade
      trades.addData(("BTC", t0, 2.0))
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select("coin", "q_ms", "px").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("BTC", t0 - 5000, 100.0)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched rows once the watermark closes the bound") {
    // outer stream-stream semantics: an unmatched left row may only be
    // emitted (with nulls) after the global watermark proves no future
    // right row can still fall inside the join bound — state stays
    // watermark-bounded on both sides.
    implicit val ctx = spark.sqlContext
    val trades = MemoryStream[(String, Long, Double)]
    val quotes = MemoryStream[(String, Long, Double)]
    val t = trades.toDF().toDF("coin", "t_ms", "qty")
      .withColumn("t_time", timestamp_millis(col("t_ms")))
      .withWatermark("t_time", "10 seconds")
    val qs = quotes.toDF().toDF("q_coin", "q_ms", "px")
      .withColumn("q_time", timestamp_millis(col("q_ms")))
      .withWatermark("q_time", "10 seconds")
    val joined = t.join(qs,
      col("coin") === col("q_coin") &&
        col("q_time") >= col("t_time") - expr("INTERVAL 10 SECONDS") &&
        col("q_time") <= col("t_time"),
      "left_outer")
      .select("coin", "t_ms", "px")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-ssj-outer")).start()
    try {
      val t0 = 1704067200000L
      quotes.addData(("BTC", t0 - 5000, 100.0))          // matches the BTC trade
      trades.addData(("BTC", t0, 2.0), ("ETH", t0, 3.0)) // ETH has no quote at all
      q.processAllAvailable()
      // advance BOTH watermarks far past t0's bound, twice: the outer
      // result is emitted in a batch after the watermark update lands
      for (adv <- Seq(600000L, 1200000L)) {
        quotes.addData(("ZZQ", t0 + adv, 0.0))
        trades.addData(("ZZT", t0 + adv, 0.0))
        q.processAllAvailable()
      }
      val rows = spark.table("ssj_outer")
        .filter(col("t_ms") === t0)
        .collect()
        .map(r => (r.getString(0), Option(r.get(2)))).toSet
      assert(rows == Set(("BTC", Some(100.0)), ("ETH", None)))
    } finally q.stop()
  }

  test("observe: per-batch pipeline metrics surface through query progress") {
    // operational visibility without a second job: observe() attaches
    // aggregates to the live stream; each micro-batch reports them in
    // its progress event — the row-count/lag dashboards a production
    // ingest needs, computed inside the existing pass.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double)]
    val observed = ms.toDF().toDF("coin", "ts_ms", "vol")
      .observe("ingest", count(lit(1)).as("rows"),
        sum(col("vol")).as("volume"), max(col("ts_ms")).as("max_ts"))
    val q = observed.writeStream.format("memory").queryName("obs_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("cp-obs")).start()
    try {
      val t0 = 1704067200000L
      ms.addData(("BTC", t0, 2.0), ("ETH", t0 + 1000, 3.0))
      q.processAllAvailable()
      val metrics = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("ingest"))).lastOption
      assert(metrics.isDefined, "observed metrics missing from progress")
      assert(metrics.get.getAs[Long]("rows") == 2L)
      assert(metrics.get.getAs[Double]("volume") == 5.0)
      assert(metrics.get.getAs[Long]("max_ts") == t0 + 1000)
    } finally q.stop()
  }

  test("state store reader: checkpointed aggregation state is queryable as a DataFrame") {
    // operational introspection at scale: the statestore data source
    // reads a live checkpoint's state (per key, per partition) without
    // touching the running query — debugging/repair tooling for
    // hundred-executor state, driven here against the OHLC-style
    // keyed count.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Double)]
    val cp = tmp("cp-ssr")
    val agg = ms.toDF().toDF("coin", "vol")
      .groupBy("coin").agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("ssr_out")
      .outputMode("update")
      .option("checkpointLocation", cp).start()
    try {
      ms.addData(("BTC", 1.0), ("BTC", 2.0), ("ETH", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").option("path", cp).load()
    // the state schema carries the physical aggregate name (`count`),
    // not the query alias
    val byCoin = state.select(col("key.coin"), col("value.count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCoin == Map("BTC" -> 2L, "ETH" -> 1L), s"state was $byCoin")
  }

  test("routed sink recovers from checkpoint: stop, restart, no duplicates") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val out = tmp("recover-out"); val cp = tmp("recover-cp")
    val t0 = 1704067200000L
    def writer = Routing.routedParquet(
      KlineIngest.enrich(KlineIngest.parse(
        ms.toDF().select(col("value").cast("binary").as("value")))),
      out, cp)

    ms.addData(klineJson("BTC", "1m", t0))
    val q1 = writer.start()
    try q1.awaitTermination(60000) finally q1.stop()
    assert(spark.read.parquet(out).count() == 1)

    // new query instance, same checkpoint: must pick up ONLY new data
    ms.addData(klineJson("ETH", "1m", t0))
    val q2 = writer.start()
    try q2.awaitTermination(60000) finally q2.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 2, "restart must not re-emit batch 1")
    assert(back.select("coin").distinct().count() == 2)
  }

  test("crash before engine commit: replayed batch is skipped by its marker") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val out = tmp("crash-out"); val cp = tmp("crash-cp")
    val t0 = 1704067200000L
    def writer = Routing.routedParquet(
      KlineIngest.enrich(KlineIngest.parse(
        ms.toDF().select(col("value").cast("binary").as("value")))),
      out, cp)

    ms.addData(klineJson("BTC", "1m", t0))
    val q1 = writer.start()
    try q1.awaitTermination(60000) finally q1.stop()
    assert(spark.read.parquet(out).count() == 1)

    // crash injection: the sink wrote batch 0 AND its marker, but the
    // engine "died" before recording the commit — delete the engine's
    // commit entry so the restart is forced to REPLAY batch 0 (via the
    // Hadoop FS so the checksum twin goes too; a stray .crc trips the
    // commit log's concurrent-writer fencing)
    val cpFs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(cp), spark.sparkContext.hadoopConfiguration)
    val commit0 = new org.apache.hadoop.fs.Path(s"$cp/commits/0")
    assert(cpFs.exists(commit0), "engine commit log layout changed?")
    assert(cpFs.delete(commit0, false))

    ms.addData(klineJson("ETH", "1m", t0))
    val q2 = writer.start()
    try q2.awaitTermination(60000) finally q2.stop()
    val back = spark.read.parquet(out)
    // batch 0 replayed but marker-skipped (no duplicate), batch 1 new
    assert(back.count() == 2, "replayed batch 0 must be a marker no-op")
    assert(back.select("coin").distinct().count() == 2)
  }

  test("simulated rate-source kline feed parses through the full pipeline") {
    val q = KlineIngest.enrich(KlineIngest.parse(
        KlineIngest.simulatedStream(spark, rowsPerSecond = 500)))
      .writeStream.format("memory").queryName("sim_out").outputMode("append")
      .option("checkpointLocation", tmp("cp-sim")).start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
      val rows = spark.table("sim_out")
      assert(rows.count() > 0)
      val r = rows.head()
      assert(r.getAs[String]("coin").endsWith("USDC"))
      assert(r.getAs[java.sql.Timestamp]("timestamp") != null)
      assert(r.getAs[Int]("year") >= 2026)
    } finally q.stop()
  }

  test("stateful OHLC via flatMapGroupsWithState accumulates across batches") {
    import graft.streaming.StatefulOhlc
    import graft.streaming.StatefulOhlc.Tick
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Tick]
    val q = StatefulOhlc.updates(ms.toDS())
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("cp-ohlc")).start()
    try {
      ms.addData(Tick("BTC", "1m", 1000L, 10.0, 1.0),
        Tick("BTC", "1m", 2000L, 15.0, 2.0))
      q.processAllAvailable()
      // second batch extends the same key's state
      ms.addData(Tick("BTC", "1m", 3000L, 5.0, 1.0),
        Tick("ETH", "1m", 1000L, 7.0, 4.0))
      q.processAllAvailable()
      val last = spark.table("ohlc_out")
        .filter(col("coin") === "BTC").orderBy(col("n").desc).head()
      assert(last.getAs[Double]("open") == 10.0)   // first tick survives
      assert(last.getAs[Double]("high") == 15.0)
      assert(last.getAs[Double]("low") == 5.0)
      assert(last.getAs[Double]("close") == 5.0)   // latest ts wins
      assert(last.getAs[Double]("volume") == 4.0)
      assert(last.getAs[Long]("n") == 3L)
      assert(spark.table("ohlc_out").filter(col("coin") === "ETH").count() == 1)
    } finally q.stop()
  }

  test("stateful OHLC via transformWithState matches the fMGWS semantics") {
    import graft.streaming.StatefulOhlc
    import graft.streaming.StatefulOhlc.Tick
    implicit val ctx = spark.sqlContext
    // state store lives in RocksDB (disk-bounded), not executor heap —
    // the provider transformWithState requires
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Tick]
      val q = StatefulOhlc.updatesTws(ms.toDS())
        .writeStream.format("memory").queryName("ohlc_tws_out")
        .outputMode("update")
        .option("checkpointLocation", tmp("cp-ohlc-tws")).start()
      try {
        ms.addData(Tick("BTC", "1m", 1000L, 10.0, 1.0),
          Tick("BTC", "1m", 2000L, 15.0, 2.0))
        q.processAllAvailable()
        ms.addData(Tick("BTC", "1m", 3000L, 5.0, 1.0),
          Tick("ETH", "1m", 1000L, 7.0, 4.0))
        q.processAllAvailable()
        val last = spark.table("ohlc_tws_out")
          .filter(col("coin") === "BTC").orderBy(col("n").desc).head()
        assert(last.getAs[Double]("open") == 10.0)
        assert(last.getAs[Double]("high") == 15.0)
        assert(last.getAs[Double]("low") == 5.0)
        assert(last.getAs[Double]("close") == 5.0)
        assert(last.getAs[Double]("volume") == 4.0)
        assert(last.getAs[Long]("n") == 3L)
        assert(spark.table("ohlc_tws_out").filter(col("coin") === "ETH").count() == 1)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("composed reference pipeline (longtime): stream to routed parquet") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val out = tmp("pipe-out")
    val t0 = 1704067200000L
    ms.addData(klineJson("BTC", "1m", t0), klineJson("BTC", "1m", t0), // dup
      klineJson("ETH", "5m", t0))
    val q = graft.pipelines.KlinePipeline.longtime(
      ms.toDF().select(col("value").cast("binary").as("value")),
      out, tmp("pipe-cp")).start()
    try q.awaitTermination(60000) finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 2, "duplicate kline must be dropped by the pipeline")
    assert(new java.io.File(s"$out/coin=ETH/interval=5m").isDirectory)
  }

  test("null routing key lands in the default partition and reads back null") {
    val out = tmp("route-null")
    val df = Seq((Some("BTC"), "1m", 1.0), (None, "1m", 2.0))
      .toDF("coin", "interval", "v")
    Routing.writePartitioned(df, out)
    assert(new java.io.File(s"$out/coin=__HIVE_DEFAULT_PARTITION__").isDirectory)
    val back = spark.read.parquet(out)
    assert(back.filter(col("coin").isNull).count() == 1)
    assert(back.count() == 2)
  }

  test("routed sink: a batch the dedup reduces to nothing appends no data file") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val out = tmp("routed-empty-out"); val cp = tmp("routed-empty-cp")
    val t0 = 1704067200000L
    def writer = graft.pipelines.KlinePipeline.longtime(
      ms.toDF().select(col("value").cast("binary").as("value")), out, cp)
    def dataFiles(): Set[(String, Long)] = {
      val root = java.nio.file.Paths.get(out)
      val walk = Files.walk(root)
      import scala.jdk.CollectionConverters._
      try walk.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(f => (root.relativize(f).toString, Files.size(f))).toSet
      finally walk.close()
    }
    def readBack(): Set[String] =
      spark.read.parquet(out).collect().map(_.mkString("|")).toSet

    ms.addData(klineJson("BTC", "1m", t0), klineJson("ETH", "1m", t0))
    val q1 = writer.start()
    try q1.awaitTermination(60000) finally q1.stop()
    val files = dataFiles()
    val rows = readBack()
    assert(files.nonEmpty && rows.size == 2)

    // a re-delivery of both bars: the batch runs and dedups to no row
    ms.addData(klineJson("BTC", "1m", t0), klineJson("ETH", "1m", t0))
    val q2 = writer.start()
    try q2.awaitTermination(60000) finally q2.stop()
    assert(q2.recentProgress.exists(_.numInputRows == 2), "the duplicate batch never ran")
    assert(dataFiles() == files, "an empty append added a data file")
    assert(readBack() == rows)
  }

  test("reference destination naming preserved for JDBC routing") {
    assert(Routing.destName("BTCUSDC", "1m") == ("source_btcusdc_db", "table_1m"))
    assert(Routing.destName(null, "1h") == ("source_null_db", "table_1h"))
  }

  test("routing sink: one partitioned write, partition dirs per (coin, interval)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val enriched = KlineIngest.enrich(KlineIngest.parse(
      ms.toDF().select(col("value").cast("binary").as("value"))))
    val out = tmp("route-out")
    val t0 = 1704067200000L
    ms.addData(klineJson("BTC", "1m", t0), klineJson("BTC", "5m", t0),
      klineJson("ETH", "1m", t0))
    val q = Routing.routedParquet(enriched, out, tmp("route-cp")).start()
    try q.awaitTermination(60000) finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    // dynamic partition layout — the per-(db, table) routing equivalent
    assert(new java.io.File(s"$out/coin=BTC/interval=1m").isDirectory)
    assert(new java.io.File(s"$out/coin=ETH/interval=1m").isDirectory)
    // read-back with partition pruning
    assert(back.filter(col("coin") === "BTC" && col("interval") === "5m").count() == 1)
  }

  test("composed longtime pipeline, exactly-once: stream -> enrich -> MERGE upsert sink") {
    // the reference's Kafka -> per-(coin, interval) JDBC job with its
    // two defects fixed at once: checkpointed offsets AND an upsert
    // sink, so the duplicate deliveries its producer makes routine
    // (re-fetched kline windows) cannot duplicate rows downstream.
    implicit val ctx = spark.sqlContext
    val url = "jdbc:derby:memory:graftstream;create=true"
    val props = new java.util.Properties()
    Routing.ensureTableAndAppend(
      Seq.empty[(String, String, Long, Double)]
        .toDF("coin", "interval", "ts", "volume").limit(0),
      url, "latest_kline",
      "coin VARCHAR(16), interval VARCHAR(8), ts BIGINT, volume DOUBLE", props)

    val ms = MemoryStream[String]
    val enriched = KlineIngest.enrich(KlineIngest.parse(
      ms.toDF().select(col("value").cast("binary").as("value"))))
    val q = enriched
      .select(col("coin"), col("interval"),
        unix_millis(col("timestamp")).as("ts"), col("volume"))
      .writeStream
      .option("checkpointLocation", tmp("cp-upsert"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // latest tick per key within the batch, then idempotent MERGE
        val latest = batch
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("coin"), col("interval"))
              .orderBy(col("ts").desc)))
          .filter(col("_rn") === 1).drop("_rn")
        Routing.upsertJdbc(latest, url, "latest_kline",
          Seq("coin", "interval"), props)
      }
      .start()
    try {
      val t0 = 1704067200000L
      ms.addData(klineJson("BTC", "1m", t0), klineJson("ETH", "1m", t0))
      q.processAllAvailable()
      // duplicate delivery: same BTC row again plus one newer tick
      ms.addData(klineJson("BTC", "1m", t0), klineJson("BTC", "1m", t0 + 60000))
      q.processAllAvailable()
      val rows = spark.read.jdbc(url, "latest_kline", props).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // no duplicates, latest timestamp wins per key
      assert(rows === Set(("BTC", "1m", t0 + 60000), ("ETH", "1m", t0)))
    } finally q.stop()
  }

  test("RocksDB state store: custom keyed state off-heap, same results as the HDFS provider") {
    // the 100 TB state posture: keyed state in RocksDB (spills past
    // executor heap, incremental changelog checkpoints upload deltas
    // instead of full snapshots). Same StatefulOhlc pipeline and
    // asserts as the heap-provider test above — results must agree.
    import graft.streaming.StatefulOhlc
    import graft.streaming.StatefulOhlc.Tick
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelogKey, "true")
    try {
      val ms = MemoryStream[Tick]
      val q = StatefulOhlc.updates(ms.toDS())
        .writeStream.format("memory").queryName("ohlc_rocks")
        .outputMode("update")
        .option("checkpointLocation", tmp("cp-ohlc-rocks")).start()
      try {
        ms.addData(Tick("BTC", "1m", 1000L, 10.0, 1.0),
          Tick("BTC", "1m", 2000L, 15.0, 2.0))
        q.processAllAvailable()
        ms.addData(Tick("BTC", "1m", 3000L, 5.0, 1.0),
          Tick("ETH", "1m", 1000L, 7.0, 4.0))
        q.processAllAvailable()
        val last = spark.table("ohlc_rocks")
          .filter(col("coin") === "BTC").orderBy(col("n").desc).head()
        assert(last.getAs[Double]("open") == 10.0)
        assert(last.getAs[Double]("high") == 15.0)
        assert(last.getAs[Double]("close") == 5.0)
        assert(last.getAs[Long]("n") == 3L)
        assert(spark.table("ohlc_rocks").filter(col("coin") === "ETH").count() == 1)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.unset(changelogKey)
    }
  }
}
