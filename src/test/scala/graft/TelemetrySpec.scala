package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Telemetry

/** Streaming telemetry: per-trigger history persisted as a parquet
  * table (rows/durations/state/watermark per batch, partitioned by
  * query name), flushed off the listener bus on demand.
  */
class TelemetrySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  // the listener bus delivers asynchronously: wait for the expected
  // captures before flushing so the asserts can't race delivery
  private def awaitPending(rec: Telemetry.Recorder, n: Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (rec.pending() < n && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(rec.pending() >= n, s"listener captured ${rec.pending()} < $n")
  }

  test("recorder persists one row per committed batch with true input counts") {
    implicit val ctx = spark.sqlContext
    val out = tmp("telemetry")
    val rec = Telemetry.attach(spark, out)
    val ms = MemoryStream[Long]
    val q = ms.toDF().writeStream.format("memory")
      .queryName("telemetry_src").outputMode("append")
      .option("checkpointLocation", tmp("cp-telemetry")).start()
    try {
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable()
      ms.addData(4L, 5L)
      q.processAllAvailable()
      awaitPending(rec, 2)
      assert(rec.flush() >= 2L)
      val t = spark.read.parquet(out)
        .filter(col("query_name") === "telemetry_src")
      val byBatch = t.select("batch_id", "input_rows")
        .as[(Long, Long)].collect().toMap
      assert(byBatch(0L) === 3L && byBatch(1L) === 2L,
        s"per-batch input rows wrong: $byBatch")
      // identity + duration columns populated on every row
      val rows = t.collect()
      assert(rows.forall(r => r.getAs[String]("run_id").nonEmpty &&
        r.getAs[String]("batch_ts").nonEmpty &&
        r.getAs[Long]("batch_duration_ms") >= 0L))
      // flush is drain-once: empty-batch progress events may trickle
      // in, but no further DATA rows appear for the committed batches
      Thread.sleep(200)
      rec.flush()
      assert(spark.read.parquet(out)
        .filter(col("query_name") === "telemetry_src")
        .filter(col("input_rows") > 0).count() === 2L)
      // the falling-behind report at a 0ms trigger flags every batch
      val lag = Telemetry.laggingBatches(spark, out, triggerMs = 0L)
        .filter(col("query_name") === "telemetry_src")
      assert(lag.count() === t.filter(col("batch_duration_ms") > 0).count())
    } finally {
      q.stop(); rec.stop()
    }
  }

  test("one recorder separates concurrent queries by partition; detach stops capture") {
    implicit val ctx = spark.sqlContext
    val out = tmp("telemetry2")
    val rec = Telemetry.attach(spark, out)
    val msA = MemoryStream[Long]
    val msB = MemoryStream[Long]
    val qA = msA.toDF().writeStream.format("memory")
      .queryName("telemetry_a").outputMode("append")
      .option("checkpointLocation", tmp("cp-tel-a")).start()
    val qB = msB.toDF().writeStream.format("memory")
      .queryName("telemetry_b").outputMode("append")
      .option("checkpointLocation", tmp("cp-tel-b")).start()
    try {
      msA.addData(1L, 2L); msB.addData(10L, 20L, 30L)
      qA.processAllAvailable(); qB.processAllAvailable()
      awaitPending(rec, 2)
      rec.flush()
      val t = spark.read.parquet(out)
      // partition pruning: reading one query's history scans one dir
      val aScan = t.filter(col("query_name") === "telemetry_a")
      assert(aScan.agg(sum("input_rows")).head().getLong(0) === 2L)
      assert(t.filter(col("query_name") === "telemetry_b")
        .agg(sum("input_rows")).head().getLong(0) === 3L)
      // after detach, further progress is not captured: the new
      // batch's rows never reach the table
      Thread.sleep(200); rec.flush()
      rec.stop()
      msA.addData(3L); qA.processAllAvailable()
      Thread.sleep(300)
      assert(rec.pending() === 0)
      assert(spark.read.parquet(out)
        .filter(col("query_name") === "telemetry_a")
        .agg(sum("input_rows")).head().getLong(0) === 2L)
    } finally {
      qA.stop(); qB.stop(); rec.stop()
    }
  }

  test("flush auto-compacts the partition; laggingBatches reads back identically") {
    // the lifecycle gap the r9 verdict named: one appended file per
    // flush forever is the small-files failure the index family
    // already solved — flush now folds a partition back to one file
    // when it crosses the threshold, with the same fail-safe swap
    implicit val ctx = spark.sqlContext
    val out = tmp("telemetry3")
    val rec = Telemetry.attach(spark, out, autoCompactFiles = 3)
    val ms = MemoryStream[Long]
    val q = ms.toDF().writeStream.format("memory")
      .queryName("telemetry_c").outputMode("append")
      .option("checkpointLocation", tmp("cp-tel-c")).start()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(out, "query_name=telemetry_c")
    def files() = fs.listStatus(part).count(st => st.isFile &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
    try {
      (1 to 10).foreach { i =>
        ms.addData(i.toLong)
        q.processAllAvailable()
        awaitPending(rec, 1)
        assert(rec.flush() >= 1L)
        // threshold 3: fold-before-append keeps the count in [1, 4]
        assert(files() <= 4, s"flush $i left ${files()} files")
      }
      val t = spark.read.parquet(out)
        .filter(col("query_name") === "telemetry_c")
      val dataBatches = t.filter(col("input_rows") > 0)
        .select("batch_id", "input_rows").as[(Long, Long)].collect().toSet
      assert(dataBatches.size === 10 && dataBatches.forall(_._2 == 1L))
      // the falling-behind report is byte-identical across an explicit
      // fold: compaction changes footers, never rows
      def lag() = Telemetry.laggingBatches(spark, out, triggerMs = 0L)
        .collect().map(_.toString).sorted.toSeq
      val before = lag()
      assert(Telemetry.compact(spark, out, maxFiles = 0) === 1)
      assert(files() === 1)
      assert(lag() === before)
      // crash healing: an interrupted swap (park, no live dir) rolls
      // back; a stale stage is dropped
      val old = graft.io.Commit.park(part)
      require(fs.rename(part, old))
      val stale = graft.io.Commit.stage(part)
      fs.mkdirs(stale)
      assert(Telemetry.compact(spark, out, maxFiles = 64) === 0)
      assert(fs.exists(part) && !fs.exists(old) && !fs.exists(stale))
      assert(lag() === before)
      // retention: keep only history at or after the cutoff (fresh
      // read: a DataFrame from before the fold pins deleted files)
      val allTs = spark.read.parquet(out)
        .filter(col("query_name") === "telemetry_c")
        .select("batch_ts").as[String].collect().sorted
      val cutoff = allTs(allTs.length / 2)
      val expected = allTs.count(_ >= cutoff).toLong
      Telemetry.retain(spark, out, cutoff)
      val kept = spark.read.parquet(out)
        .filter(col("query_name") === "telemetry_c")
      assert(kept.count() === expected)
      assert(kept.select("batch_ts").as[String].collect().forall(_ >= cutoff))
      // retention past ALL rows: the emptied partition is DELETED —
      // never swapped in as a file-less dir that would break schema
      // inference — and once every partition empties, the root reads
      // as no-partitions exactly like before the first flush (here:
      // this is the only partition, so the dir is the whole table)
      Telemetry.retain(spark, out, "9999-12-31T00:00:00.000Z")
      assert(!fs.exists(part),
        "partition emptied by retention must be deleted, not left file-less")
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(out)).forall(st =>
        !st.getPath.getName.startsWith("query_name=")),
        "no partition dir may survive a retain past all rows")
    } finally {
      q.stop(); rec.stop()
    }
  }

  test("a rewrite's stage and park partitions stay hidden from reads of the table") {
    val out = tmp("telemetry-hidden") + "/t"
    Seq(("q1", 0L, 500L), ("q1", 1L, 20L), ("q2", 0L, 700L))
      .toDF("query_name", "batch_id", "batch_duration_ms")
      .withColumn("batch_ts", lit("2026-01-01T00:00:00.000Z"))
      .withColumn("input_rows", lit(1L)).withColumn("state_rows", lit(0L))
      .write.partitionBy("query_name").parquet(out)
    def names = spark.read.parquet(out).select("query_name").distinct()
      .as[String].collect().sorted.toSeq
    def lagging = Telemetry.laggingBatches(spark, out, triggerMs = 100L)
      .select("query_name", "batch_id").as[(String, Long)].collect().toSeq
    val (namesBefore, laggingBefore) = (names, lagging)
    // what a crash mid-rewrite leaves: the staged copy and the park
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(out, "query_name=q1")
    Seq(graft.io.Commit.stage(part), graft.io.Commit.park(part)).foreach(p =>
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, p, false,
        spark.sparkContext.hadoopConfiguration)))
    assert(namesBefore == Seq("q1", "q2"))
    assert(names == namesBefore)
    assert(lagging == laggingBefore)
    assert(spark.read.parquet(out).count() == 3L)
  }
}
