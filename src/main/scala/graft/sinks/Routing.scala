package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.io.Commit

/** Sink-side routing (reference §2.2).
  *
  * The reference fans a micro-batch out to per-(coin, interval)
  * destinations with `distinct().collect()` + a driver loop that
  * re-filters the batch once per group — O(groups) Spark jobs per
  * batch (/root/reference/spark/streaming-longtime.py:119-142,
  * SURVEY.md §4.2). Here the same routing is ONE dynamic-partition
  * write: every executor writes its own partition files for all keys
  * it holds, one job regardless of group count.
  */
object Routing {

  /** The reference's destination-name mangling
    * (streaming-longtime.py:124-125): `source_{coin}_db` /
    * `table_{interval}`, lower-cased. A Python None coin would have
    * produced the literal db name `source_none_db` there; here null
    * keys are handled by the partition layer instead (see
    * [[writePartitioned]]).
    */
  def destName(coin: String, interval: String): (String, String) =
    (s"source_${String.valueOf(coin).toLowerCase}_db",
     s"table_${String.valueOf(interval).toLowerCase}")

  /** Dynamic-partition append: `path/coin=X/interval=Y/part-*.parquet`.
    * Equivalent of the reference's per-(db, table) JDBC routing, with
    * partition pruning for free on read-back.
    *
    * Null routing keys (possible: the wire schema is fully nullable,
    * SURVEY §1.2/§7.4) land in the hive default partition
    * (`coin=__HIVE_DEFAULT_PARTITION__`) and read back as null —
    * pinned in `StreamingSpec` — rather than minting a fake
    * `source_none_db` destination like the reference would.
    */
  def writePartitioned(df: DataFrame, path: String,
                       keys: Seq[String] = Seq("coin", "interval")): Unit =
    df.write.mode(SaveMode.Append).partitionBy(keys: _*).parquet(path)

  /** Small-file compaction: streaming appends leave one file per
    * micro-batch per partition; at scale the file count, not the
    * bytes, kills scan planning. Re-writes `path` into
    * ceil(totalBytes / targetFileBytes) files, sized from the scan's
    * own `_metadata.file_size` (no filesystem listing pass). The
    * rewrite is staged beside `path` and swapped in through
    * [[graft.io.Commit]], which first heals a crashed earlier
    * compaction; the read-back-equality contract is pinned in
    * `AvroSinkSpec`.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Nil): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    Commit.heal(fs, dst, "compact")
    // a Hive-partitioned source (writePartitioned/routedParquet layout)
    // must be rewritten WITH partitionBy, or the directory scheme — and
    // partition pruning — is silently flattened away. Detect the layout
    // from the directory names (k=v per level) unless the caller pins it.
    val parts =
      if (partitionCols.nonEmpty) partitionCols else detectPartitionCols(fs, dst)
    val df = spark.read.parquet(path)
    val totalBytes = df
      .select(org.apache.spark.sql.functions.col("_metadata.file_path").as("f"),
        org.apache.spark.sql.functions.col("_metadata.file_size").as("sz"))
      .dropDuplicates("f")
      .agg(org.apache.spark.sql.functions.sum("sz")).head().getLong(0)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = Commit.stage(dst)
    val w = df.repartition(nFiles).write.mode(SaveMode.Overwrite)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tmp.toString)
    Commit.swap(fs, dst, tmp, "compact")
    nFiles
  }

  /** Infer Hive partition columns from a directory tree: each level
    * whose child directories are all `name=value` contributes one
    * column. Mirrors what `spark.read.parquet` itself discovers, so a
    * compaction rewrite preserves exactly the layout the reader sees. */
  private[sinks] def detectPartitionCols(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer[String]()
    var dir = root
    var done = false
    while (!done) {
      val subdirs = fs.listStatus(dir).filter(s =>
        s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
      val names = subdirs.map(_.getPath.getName.split("=", 2))
      if (subdirs.nonEmpty && names.forall(_.length == 2) &&
          names.map(_.head).distinct.length == 1) {
        cols += names.head.head
        // descend a NON-EMPTY branch: an empty leftover partition dir
        // as the first listing must not truncate detection of the
        // deeper levels
        dir = subdirs.find(s => fs.listStatus(s.getPath).nonEmpty)
          .getOrElse(subdirs.head).getPath
      } else done = true
    }
    cols.toSeq
  }

  /** Streaming form: checkpointed foreachBatch that routes each
    * micro-batch with one partitioned write (sink_foreach_batch +
    * sink_jdbc_append semantics, minus the per-group job storm).
    * Caller starts it: `routedParquet(ds, path, cp).start()`.
    *
    * One Spark job per micro-batch: the partitioned write. An empty
    * batch (say, one the dedup stage reduced to nothing) appends no
    * data file — a `partitionBy` write of no rows leaves only
    * `_SUCCESS` — so it needs no `isEmpty` probe, which would run the
    * batch's plan, dedup state store included, a second time (pinned
    * in `StreamingSpec`). With `keys` empty the write is not
    * partitioned, and Spark then writes one empty part file carrying
    * the schema; the read-back is unchanged either way.
    */
  def routedParquet(enriched: DataFrame, path: String, checkpointDir: String,
                    keys: Seq[String] = Seq("coin", "interval"))
      : DataStreamWriter[Row] =
    enriched.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard: a marker per committed batch makes the common
        // replay path (crash AFTER write+marker, before the engine
        // commit log records the epoch) a no-op instead of a blind
        // re-append. Markers live INSIDE the checkpoint dir, so their
        // lifetime is coupled to the batch-id sequence they guard: a
        // fresh checkpoint (whose batch ids restart at 0) starts with
        // no stale markers, and compacting/rewriting the OUTPUT dir
        // cannot destroy them. The residual window — crash between
        // write and marker — is inherent to parquet append without a
        // transactional table format; the exactly-once sinks here are
        // upsertJdbc and Cdc.streamSnapshot.
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(checkpointDir), spark.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(
          s"$checkpointDir/graft-sink-commits/batch_$batchId")
        // legacy location (markers used to live in the output dir):
        // still honored so a batch committed by the previous layout
        // is not re-appended after an upgrade
        val legacy = new org.apache.hadoop.fs.Path(
          s"$path/_committed_batch_$batchId")
        val outFs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker) && !outFs.exists(legacy)) {
          writePartitioned(batch, path, keys)
          fs.create(marker, true).close()
        }
      }
      .trigger(Trigger.AvailableNow())

  /** Bucketed table write: co-locates rows by hash(key) % buckets so
    * joins/aggregations between tables bucketed the same way need NO
    * shuffle (plan shows zero Exchange). At 100 TB this is the
    * pre-partitioning discipline for recurring fact–fact joins: pay
    * one shuffle at load time, reuse the layout across every query.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int = 8, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** The reference's DDL-ensure + JDBC append
    * (streaming-longtime.py:69-106,134-142): plain `java.sql` on the
    * driver for DDL (no Spark primitive exists), executor-parallel
    * JDBC append for data. Kept API-compatible; exercised only where
    * a database is reachable.
    */
  def ensureTableAndAppend(df: DataFrame, jdbcUrl: String, table: String,
                           ddl: String, props: java.util.Properties): Unit = {
    ensureTable(jdbcUrl, table, ddl, props)
    df.write.mode(SaveMode.Append).jdbc(jdbcUrl, table, props)
  }

  /** The DDL-ensure half of [[ensureTableAndAppend]] alone — the
    * shape a MERGE-sinking pipeline needs (ensure once, then
    * [[upsertJdbc]] per batch; a blind append would duplicate on
    * replay).
    */
  def ensureTable(jdbcUrl: String, table: String,
                  ddl: String, props: java.util.Properties): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
    try {
      // dialect-neutral IF NOT EXISTS: probe the catalog for THIS table
      // (both case forms — Derby folds unquoted identifiers to upper)
      // rather than listing every table in the warehouse. getTables
      // treats the name as a LIKE pattern, so '_' (ubiquitous in the
      // routed table names) must be escaped or `table_1m` would
      // false-match a `tableX1m` and skip the CREATE.
      val esc = Option(conn.getMetaData.getSearchStringEscape).filter(_.nonEmpty)
      def probe(name: String): Boolean = {
        // a driver without escape support (null/empty) falls back to
        // the raw name — a LIKE false-match risk, but not a crash
        val pattern = esc.fold(name)(e => name.replace(e, e + e)
          .replace("_", e + "_").replace("%", e + "%"))
        val rs = conn.getMetaData.getTables(null, null, pattern, Array("TABLE"))
        try rs.next() finally rs.close()
      }
      if (!probe(table) && !probe(table.toUpperCase)) {
        val st = conn.createStatement()
        try st.execute(s"CREATE TABLE $table ($ddl)") finally st.close()
      }
    } finally conn.close()
  }

  /** Dialect-routed single-row upsert statement + the row-index bind
    * order for its `?` parameters.
    *
    * PostgreSQL (`jdbc:postgresql:`): `INSERT ... ON CONFLICT (keys)
    * DO UPDATE SET v = EXCLUDED.v` — the native idiom; requires a
    * unique index on the key columns (and `NULLS NOT DISTINCT` on it
    * if NULL keys must upsert rather than stack, PG15+). Parameter
    * types are inferred, so plain `?` placeholders bind one row in
    * column order.
    *
    * Everything else (Derby is the executed test dialect): ANSI MERGE
    * against the 1-row catalog dummy (Derby's MERGE source must be a
    * base table), values bound through `CAST(? AS <type>)` because
    * Derby cannot infer parameter types, and a spelled-out
    * IS-NOT-DISTINCT-FROM key match (NULL = NULL is UNKNOWN, which
    * would re-INSERT a replayed NULL-keyed row every time). Derby
    * cannot probe an index with that OR, so every row scans the whole
    * table; `exactKeys = true` gives the plain `t.K = CAST(? AS T)`
    * match instead (keys bound once), which a key index answers. For
    * a row with no NULL key both forms match the same target rows, so
    * [[upsertJdbc]] sends such rows to the exact form and NULL-keyed
    * rows to the null-safe one. PostgreSQL ignores the flag.
    */
  private[graft] def upsertStatement(
      jdbcUrl: String, table: String,
      schema: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String],
      exactKeys: Boolean = false): (String, Array[Int]) = {
    import org.apache.spark.sql.types._
    def sqlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case TimestampType => "TIMESTAMP"
      case _: DecimalType => "DECIMAL(31,6)"
      case _ => "VARCHAR(32672)"
    }
    val cols = schema.fields.map(_.name).toSeq
    val valCols = cols.filterNot(keyCols.contains)
    if (jdbcUrl.startsWith("jdbc:postgresql:")) {
      // identifiers quoted LOWERCASE: PostgreSQL folds unquoted DDL to
      // lower, so "coin" matches every unquoted-created table, and
      // quoting keeps reserved-word kline columns (timestamp, open,
      // close, year, ...) valid — the same convention the Derby branch
      // applies uppercase (r9 ADVICE: the two dialects must not
      // diverge on which column names they can merge into)
      def q(c: String) = "\"" + c.toLowerCase + "\""
      val sql =
        s"""INSERT INTO $table (${cols.map(q).mkString(", ")})
           |VALUES (${cols.map(_ => "?").mkString(", ")})
           |ON CONFLICT (${keyCols.map(q).mkString(", ")}) DO UPDATE
           |SET ${valCols.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")}""".stripMargin
      (sql, cols.map(schema.fieldIndex).toArray)
    } else {
      def cast(c: String) =
        s"CAST(? AS ${sqlType(schema(schema.fieldIndex(c)).dataType)})"
      // identifiers quoted UPPERCASE: Derby folds unquoted DDL to
      // upper, so "COIN" matches every unquoted-created table, while
      // raw rendering would choke on kline columns that are reserved
      // words (TIMESTAMP, OPEN, CLOSE, YEAR, ...)
      def q(c: String) = "\"" + c.toUpperCase + "\""
      val on =
        if (exactKeys) keyCols.map(k => s"t.${q(k)} = ${cast(k)}")
        else keyCols.map(k =>
          s"(t.${q(k)} = ${cast(k)} OR (t.${q(k)} IS NULL AND ${cast(k)} IS NULL))")
      val sql =
        s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1 d
           |ON ${on.mkString(" AND ")}
           |WHEN MATCHED THEN UPDATE SET ${valCols.map(c => s"${q(c)} = ${cast(c)}").mkString(", ")}
           |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
           |VALUES (${cols.map(cast).mkString(", ")})""".stripMargin
      // parameter order = ON keys (each twice when null-safe), SET
      // values, INSERT row
      val onBind = if (exactKeys) keyCols else keyCols.flatMap(k => Seq(k, k))
      (sql, (onBind ++ valCols ++ cols).map(schema.fieldIndex).toArray)
    }
  }

  /** Keyed JDBC upsert via standard SQL MERGE, executor-parallel and
    * batched. Replaying a micro-batch re-MERGEs the same (key, value)
    * rows — a no-op — so `foreachBatch(upsertJdbc(...))` + checkpoint
    * gives an exactly-once EFFECT on the database even though the
    * delivery is at-least-once (the upgrade over the reference's blind
    * append, which duplicates on every replay; its Kafka re-fetches
    * make replays routine). Per-partition transactions: a partition's
    * rows land atomically; retries of a failed task re-merge cleanly.
    *
    * The statement is dialect-routed by [[upsertStatement]]: ANSI
    * MERGE for Derby/DB2-family (executed for real in `JdbcSpec`),
    * `INSERT ... ON CONFLICT DO UPDATE` for PostgreSQL (golden-text
    * asserted — the tests run no Postgres server).
    *
    * On Derby each row's match should be an index lookup, not a table
    * scan, or a batch costs O(rows × table) and grows for as long as
    * the stream runs. So a row whose key columns are all non-null is
    * bound to the exact-key MERGE, which Derby answers from a unique
    * index on the key (e.g. `KlinePipeline.KlineDdl`'s UNIQUE
    * constraint); a row with a NULL key keeps the null-safe MERGE,
    * which scans. Both statements run in the same chunk transaction
    * and flush together. The two never touch the same target row (a
    * NULL key column differs from every non-null one), so their order
    * within a flush does not matter. A table without a key index
    * (e.g. one created before `KlineDdl` had its constraint) stays
    * correct but scans for every row. The one-writer Derby clamp
    * below was measured before the index existed and is kept, not
    * re-measured.
    *
    * Writers: the reduced batch is hash-shuffled by key into exactly
    * `maxConnections` partitions (one on Derby), one writer each, so a
    * key's rows meet in one transaction. On PostgreSQL that is
    * `maxConnections` writers (8 by default) whatever the input's
    * partition count. A writer connects per chunk of
    * rows, so an empty batch or partition opens no connection and
    * writes nothing: the write is its own emptiness check, and a
    * caller needs no `isEmpty` probe — a second job over the input's
    * whole plan — before it (pinned in `JdbcSpec`).
    *
    * A batch may carry several rows for one key; Spark guarantees no
    * intra-partition order after a repartition, so "last row wins"
    * would be nondeterministic. The batch is therefore reduced to ONE
    * row per key before merging: the row with the greatest `orderCol`
    * when given (ties nondeterministic — use a total order per key),
    * else the greatest value tuple (arbitrary but deterministic, so
    * replays converge).
    */
  def upsertJdbc(df: DataFrame, jdbcUrl: String, table: String,
                 keyCols: Seq[String], props: java.util.Properties,
                 orderCol: Option[String] = None,
                 maxConnections: Int = 8): Unit = {
    val schema = df.schema
    val cols = schema.fields.map(_.name).toSeq
    val valCols = cols.filterNot(keyCols.contains)
    require(valCols.nonEmpty && keyCols.forall(cols.contains),
      s"upsertJdbc: keys $keyCols must be a proper subset of $cols")
    val (safeSql, safeBind) = upsertStatement(jdbcUrl, table, schema, keyCols)
    val (exactSql, exactBind) =
      upsertStatement(jdbcUrl, table, schema, keyCols, exactKeys = true)
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    // one row per key per batch (see scaladoc) — groupBy treats NULL
    // keys as equal, matching the MERGE's IS-NOT-DISTINCT-FROM match.
    // ONE max_by over the packed value struct (not one per column):
    // per-column max_by could stitch the winner from DIFFERENT rows on
    // ties, and a bare orderCol ordering left the winner partition-
    // order-dependent — replay would not converge (r3 ADVICE bug).
    // Appending the value columns to the ordering makes it total, so
    // the tie-break is deterministic row content, never arrival order.
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val ord = struct(orderCol.map(col).toSeq ++ valCols.map(col): _*)
    val oneRow = df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(valCols.map(col): _*), ord).as("_v"))
      .select(keyCols.map(col) ++ valCols.map(c => col(s"_v.$c").as(c)): _*)
      .select(cols.map(col): _*)
    // co-locate each key in ONE partition: concurrent per-partition
    // transactions merging the same key would race (nondeterministic
    // winner, lock-timeout risk). And BOUND the writer count —
    // `maxConnections` concurrent transactions against ONE database
    // endpoint, not one per shuffle partition: a single RDBMS gains
    // nothing past a few writers and loses hard to lock contention
    // (Derby serializes behind 60 s table-lock waits at ~20 writers —
    // measured live; PG deadlock probability grows with writer
    // count). One hash shuffle into `conns` partitions does both.
    // It must be a shuffle: a `coalesce` over a key repartition loses
    // the repartition whenever the input is already hash-partitioned
    // by the keys (the groupBy's output, or a foreachBatch frame over
    // a keyed dedup), so the coalesce folds everything upstream into
    // its own `conns` tasks — on Derby one task running the whole
    // state-store stage and aggregation of a streaming trigger.
    // Derby clamps to ONE writer regardless of the cap: its lock
    // manager escalates row locks to table locks under concurrent
    // MERGE, so extra writers buy only wait cycles (observed: the
    // same batch 1 s single-writer vs 25 s behind intermittent
    // multi-second lock waits at 8) — an embedded single-node store
    // has no parallel-write upside to trade for that (measured before
    // the exact-key MERGE; see the scaladoc)
    val conns =
      if (jdbcUrl.startsWith("jdbc:derby")) 1
      else math.max(1, maxConnections)
    val byKey = oneRow.repartition(conns, keyCols.map(col): _*)
    // BOUNDED-CHUNK transactions with conflict retry: concurrent
    // per-partition MERGEs on one table can deadlock or fail
    // serialization even on disjoint keys — Derby escalates to
    // page/table locks (observed live in the r11 streaming runs at
    // 20 concurrent writers), and PostgreSQL raises 40001/40P01
    // under SSI or multi-row lock-order inversions. The standard
    // client contract for BOTH is: rollback and retry the
    // transaction. Each chunk (one buffered group of rows, bounded
    // memory) is its own transaction retried up to 5 times with
    // exponential backoff on SQLState class 40; chunk-level commits
    // are replay-safe for the same reason the per-partition ones
    // were — the MERGE is idempotent, so partial application plus a
    // crash converges on replay (the e2e spec's contract).
    byKey.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.grouped(2000).foreach { chunk =>
        var attempt = 0
        var done = false
        while (!done) {
          val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
          try {
            conn.setAutoCommit(false)
            val exact = conn.prepareStatement(exactSql)
            // PostgreSQL: one statement serves both kinds of row
            val safe =
              if (safeSql == exactSql) exact else conn.prepareStatement(safeSql)
            def flush(): Unit = {
              exact.executeBatch()
              if (safe ne exact) safe.executeBatch()
            }
            var n = 0
            chunk.foreach { r =>
              val (ps, bindOrder) =
                if (keyIdx.exists(r.isNullAt)) (safe, safeBind) else (exact, exactBind)
              var i = 0
              while (i < bindOrder.length) {
                ps.setObject(i + 1, r.get(bindOrder(i)))
                i += 1
              }
              ps.addBatch()
              n += 1
              if (n % 500 == 0) flush()
            }
            flush()
            conn.commit()
            done = true
          } catch {
            case e: java.sql.SQLException
                if isRetryableConflict(e) && attempt < 5 =>
              try conn.rollback() catch { case _: Throwable => () }
              attempt += 1
              Thread.sleep(50L << attempt)
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          } finally conn.close()
        }
      }
    }
  }

  /** SQLState class 40 = transaction rollback (40001 serialization
    * failure on Derby and PostgreSQL, 40P01 PostgreSQL deadlock):
    * the transaction did NOT apply and the documented client
    * response is retry. Batch drivers wrap the real exception
    * ([[java.sql.BatchUpdateException]] chains it via
    * getNextException, others via the cause), so the whole chain is
    * walked.
    */
  private[graft] def isRetryableConflict(e: Throwable): Boolean = {
    var cur = e
    var hops = 0
    while (cur != null && hops < 16) {
      cur match {
        case s: java.sql.SQLException
            if Option(s.getSQLState).exists(_.startsWith("40")) =>
          return true
        case _ => ()
      }
      val next = cur match {
        case s: java.sql.SQLException
            if s.getNextException != null && (s.getNextException ne cur) =>
          s.getNextException
        case _ => cur.getCause
      }
      cur = if (next eq cur) null else next
      hops += 1
    }
    false
  }
}
