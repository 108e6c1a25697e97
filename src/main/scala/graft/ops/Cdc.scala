package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.io.Commit

/** Change-data-capture materialization. The reference ships a full
  * Debezium connector config for exactly this feed
  * (/root/reference/config/debezium/conf.json — wired in
  * docker-compose but never enabled), so the changelog-apply step is
  * part of its intended surface: turn an append-only stream of keyed
  * upsert/delete operations into the current snapshot.
  *
  * Scale shape: `applyLatest` is ONE aggregation — `max_by` over a
  * total-order sequence key keeps a single row per key in the
  * map-side partials, so the shuffle carries |keys| rows, not
  * |changes| (hash-aggregated for fixed-width payloads; string
  * payloads fall back to sort-based agg with the same partial-agg
  * shape). No window sort, no self-join. (The window-function
  * formulation — row_number desc = 1 — shuffles and sorts every
  * change row; at 100 TB of changelog that is the difference between
  * a merge-sized job and a full re-sort.)
  */
object Cdc {

  /** Latest-wins apply: keep each key's highest-`seq` change, drop the
    * key when that change is a delete. `seq` must be a total order
    * (unique per key); `payload` columns ride along via max_by.
    */
  def applyLatest(changes: DataFrame, key: Column, seq: Column, op: Column,
                  deleteOp: String, payload: Seq[(String, Column)]): DataFrame = {
    val picked = changes.groupBy(key.as("k")).agg(
      max(seq).as("last_seq"),
      max_by(op, seq).as("_op") +:
        payload.map { case (n, c) => max_by(c, seq).as(n) }: _*)
    picked.filter(col("_op") =!= deleteOp).drop("_op")
  }

  /** Continuously-maintained current-state snapshot: a checkpointed
    * foreachBatch stream that merges each micro-batch of changelog
    * rows into a parquet snapshot at `path`.
    *
    * The snapshot is hash-partitioned into `nBuckets` key buckets and
    * each micro-batch rewrites ONLY the buckets containing changed
    * keys — at 100 TB a trickle of changes touches a handful of
    * buckets, not the whole table (the full-rewrite variant is the
    * classic foreachBatch-merge scale bug). Each bucket commits by
    * write-to-fresh-dir + [[graft.io.Commit.swap]].
    *
    * Latest-wins by `seq` makes the merge idempotent, so micro-batch
    * replay after a crash (engine checkpoint = source offsets) cannot
    * duplicate or reorder state — the exactly-once story the
    * reference's save-watermark-then-write loop lacks
    * (/root/reference/spark/streaming-longtime-raw.py:157-164).
    */
  def streamSnapshot(changes: DataFrame, path: String, checkpointDir: String,
                     key: Column, seq: Column, op: Column, deleteOp: String,
                     payload: Seq[(String, Column)], nBuckets: Int = 64)
      : DataStreamWriter[Row] =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          mergeBatch(batch, path, key, seq, op, deleteOp, payload, nBuckets)
      }
      .trigger(Trigger.AvailableNow())

  /** One merge step of [[streamSnapshot]] (also usable for batch
    * incremental upserts). */
  def mergeBatch(batch: DataFrame, path: String, key: Column, seq: Column,
                 op: Column, deleteOp: String, payload: Seq[(String, Column)],
                 nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val names = Seq("k", "last_seq", "_op") ++ payload.map(_._1)

    val picked = batch.groupBy(key.as("k")).agg(
        max(seq).as("last_seq"),
        max_by(op, seq).as("_op") +:
          payload.map { case (n, c) => max_by(c, seq).as(n) }: _*)
      .select(names.map(col): _*)
      .persist() // consumed twice: affected-bucket collect + the merge write

    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val root = new org.apache.hadoop.fs.Path(path)
      // crash repair: a bucket parked with no live twin means a previous
      // run died inside its swap — restore it BEFORE reading `existing`,
      // or those keys would silently vanish from the re-merged snapshot
      Commit.healChildren(fs, root, "snapshot repair")

      // buckets this batch touches — bounded by nBuckets, never by |keys|
      val affected = picked
        .select(pmod(hash(col("k")), lit(nBuckets)).as("b")).distinct()
        .collect().map(_.getInt(0)).sorted

      val existing =
        if (fs.exists(root) && fs.listStatus(root).nonEmpty)
          spark.read.parquet(path)                      // partition pruning:
            .filter(col("_bucket").isin(affected.toSeq.map(Integer.valueOf): _*))
            .withColumn("_op", lit("U"))                // only touched buckets read
            .select(names.map(col): _*)
        else picked.limit(0)

      val merged = existing.unionByName(picked)
        .groupBy(col("k")).agg(
          max(col("last_seq")).as("last_seq"),
          max_by(col("_op"), col("last_seq")).as("_op") +:
            payload.map { case (n, _) => max_by(col(n), col("last_seq")).as(n) }: _*)
        .filter(col("_op") =!= deleteOp).drop("_op")
        .withColumn("_bucket", pmod(hash(col("k")), lit(nBuckets)))

      val tmp = Commit.stage(root)
      merged.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(tmp.toString)
      // per-bucket swap (a bucket absent from `tmp` lost every key and
      // is swapped out for nothing); a crash is healed by the next
      // merge, and the replayed merge is idempotent
      fs.mkdirs(root)
      affected.foreach { b =>
        Commit.swap(fs, new org.apache.hadoop.fs.Path(root, s"_bucket=$b"),
          new org.apache.hadoop.fs.Path(tmp, s"_bucket=$b"), "snapshot swap")
      }
      fs.delete(tmp, true)
    } finally picked.unpersist()
  }

  /** Read back a [[streamSnapshot]] snapshot (drops the bucket
    * layout column). */
  def snapshot(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("_bucket")

  /** Slowly-changing-dimension type 2: collapse an ordered change
    * history to validity intervals of `attr`, one row per run of equal
    * values — `[eff_from, eff_to)`, open-ended (null eff_to) for the
    * current row, versions numbered per key.
    *
    * Two window passes over the same (key → ord) shuffle: change
    * detection (lag) then interval close (lead) + version number —
    * Catalyst reuses one Exchange/Sort for all three functions.
    */
  def scd2(history: DataFrame, key: Column, ord: Seq[Column],
           attr: Column, effTime: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord: _*)
    // null-safe change detect: `_prev =!= attr` is UNKNOWN when either
    // side is null, which would drop transitions INTO null and emit a
    // version per row across null runs. First row always starts a
    // version (row_number reuses the same sort).
    val changed = history
      .withColumn("_rn", row_number().over(w))
      .withColumn("_prev", lag(attr, 1).over(w))
      .filter(col("_rn") === 1 || !(col("_prev") <=> attr))
    val kw = Window.partitionBy(key).orderBy(ord: _*)
    changed.select(
      key.as("k"),
      attr.as("attr"),
      effTime.as("eff_from"),
      lead(effTime, 1).over(kw).as("eff_to"),
      row_number().over(kw).cast("long").as("version"),
      lead(effTime, 1).over(kw).isNull.as("is_current"))
  }
}
