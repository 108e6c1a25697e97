package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.Routing

/** Reference JDBC parity (§2.1 src_jdbc_full/src_jdbc_pushdown, §2.2
  * sink_jdbc_append/sink_ddl_ensure) exercised for real against
  * embedded Derby (ships with Spark) — same DataSource code paths a
  * PostgreSQL deployment uses, different dialect only.
  */
class JdbcSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val props = new java.util.Properties()

  test("ddl-ensure + append sink, full read-back, pushdown subquery read") {
    val df = Seq(
      ("BTC", 1L, 10.5), ("BTC", 2L, 11.5), ("ETH", 3L, 20.0)
    ).toDF("coin", "ts", "price")

    // sink_ddl_ensure + sink_jdbc_append
    Routing.ensureTableAndAppend(df, url, "klines",
      "coin VARCHAR(16), ts BIGINT, price DOUBLE", props)
    // idempotent DDL, append again → 6 rows
    Routing.ensureTableAndAppend(df, url, "klines",
      "coin VARCHAR(16), ts BIGINT, price DOUBLE", props)

    // src_jdbc_full
    val full = spark.read.jdbc(url, "klines", props)
    assert(full.count() == 6)

    // src_jdbc_pushdown, both reference styles:
    // (a) subquery pushed via dbtable (streaming-longtime-raw.py:132-137)
    val sub = spark.read
      .jdbc(url, "(SELECT coin, ts FROM klines WHERE ts > 1) tmp", props)
    assert(sub.count() == 4)
    // (b) declarative filter — Catalyst pushes it to the JDBC source
    val filtered = spark.read.jdbc(url, "klines", props)
      .filter(col("ts") > 1).select("coin", "ts")
    assert(filtered.count() == 4)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("TS"),
      s"JDBC filter not pushed:\n$scan")
  }

  test("MERGE upsert sink: replay is idempotent, updates win over inserts") {
    val b1 = Seq(("BTC", 1L, 10.0), ("ETH", 2L, 20.0)).toDF("coin", "ts", "price")
    Routing.ensureTableAndAppend(b1.limit(0), url, "latest",
      "coin VARCHAR(16), ts BIGINT, price DOUBLE", props)

    Routing.upsertJdbc(b1, url, "latest", Seq("coin"), props)
    // exact replay of the same micro-batch (at-least-once delivery):
    // MERGE matches every key and rewrites identical values — no dupes
    Routing.upsertJdbc(b1, url, "latest", Seq("coin"), props)
    val after1 = spark.read.jdbc(url, "latest", props)
    assert(after1.count() == 2)

    // newer batch updates one key, inserts another
    val b2 = Seq(("BTC", 5L, 15.0), ("SOL", 1L, 30.0)).toDF("coin", "ts", "price")
    Routing.upsertJdbc(b2, url, "latest", Seq("coin"), props)
    val rows = spark.read.jdbc(url, "latest", props).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows === Set(("BTC", 5L, 15.0), ("ETH", 2L, 20.0), ("SOL", 1L, 30.0)))

    // NULL key: the null-safe ON clause must treat NULL as matching
    // NULL, so replaying a NULL-keyed row updates instead of stacking
    // one duplicate per replay
    val bn = Seq((Option.empty[String], 7L, 1.0)).toDF("coin", "ts", "price")
    Routing.upsertJdbc(bn, url, "latest", Seq("coin"), props)
    Routing.upsertJdbc(bn, url, "latest", Seq("coin"), props)
    val nullRows = spark.read.jdbc(url, "latest", props)
      .filter(col("coin").isNull).collect()
    assert(nullRows.length === 1 && nullRows.head.getLong(1) === 7L)
  }

  test("postgres dialect emits INSERT..ON CONFLICT; derby keeps ANSI MERGE") {
    val schema = Seq(("BTC", 1L, 10.0)).toDF("coin", "ts", "price").schema
    val (pgSql, pgBind) = Routing.upsertStatement(
      "jdbc:postgresql://db:5432/graft", "latest", schema, Seq("coin"))
    assert(pgSql ==
      """INSERT INTO latest ("coin", "ts", "price")
        |VALUES (?, ?, ?)
        |ON CONFLICT ("coin") DO UPDATE
        |SET "ts" = EXCLUDED."ts", "price" = EXCLUDED."price"""".stripMargin)
    assert(pgBind.toSeq == Seq(0, 1, 2))
    // quoting symmetry with the Derby branch: a reserved-word or
    // mixed-case column renders lowercase-quoted, never raw (PG folds
    // unquoted identifiers to lower, so this matches unquoted DDL)
    val rsvd = Seq(("BTC", 1L, 10.0)).toDF("coin", "TIMESTAMP", "Open").schema
    val (pgSql2, _) = Routing.upsertStatement(
      "jdbc:postgresql://db:5432/graft", "latest", rsvd, Seq("coin"))
    assert(pgSql2.contains("\"timestamp\" = EXCLUDED.\"timestamp\"") &&
      pgSql2.contains("\"open\" = EXCLUDED.\"open\""))

    val (dbySql, dbyBind) = Routing.upsertStatement(url, "latest", schema, Seq("coin"))
    assert(dbySql.startsWith("MERGE INTO latest t USING SYSIBM.SYSDUMMY1 d"))
    assert(dbySql.contains("WHEN MATCHED THEN UPDATE SET"))
    // ON keys twice (null-safe match), SET values, INSERT row
    assert(dbyBind.toSeq == Seq(0, 0, 1, 2, 0, 1, 2))
  }

  test("derby exact-key MERGE: plain key equality, each key bound once") {
    val schema = Seq(("BTC", 1L, 10.0)).toDF("coin", "ts", "price").schema
    val (exSql, exBind) =
      Routing.upsertStatement(url, "latest", schema, Seq("coin"), exactKeys = true)
    assert(exSql ==
      """MERGE INTO latest t USING SYSIBM.SYSDUMMY1 d
        |ON t."COIN" = CAST(? AS VARCHAR(32672))
        |WHEN MATCHED THEN UPDATE SET "TS" = CAST(? AS BIGINT), "PRICE" = CAST(? AS DOUBLE)
        |WHEN NOT MATCHED THEN INSERT ("COIN", "TS", "PRICE")
        |VALUES (CAST(? AS VARCHAR(32672)), CAST(? AS BIGINT), CAST(? AS DOUBLE))""".stripMargin)
    assert(!exSql.contains("IS NULL"))
    // ON keys once, SET values, INSERT row
    assert(exBind.toSeq == Seq(0, 1, 2, 0, 1, 2))
    // the null-safe form is what the flag's default still gives
    val (safeSql, _) = Routing.upsertStatement(url, "latest", schema, Seq("coin"))
    assert(safeSql.contains("IS NULL") && safeSql != exSql)
    // PostgreSQL's ON CONFLICT has one form for both kinds of row
    val pg = "jdbc:postgresql://db:5432/graft"
    val (pgEx, pgExBind) =
      Routing.upsertStatement(pg, "latest", schema, Seq("coin"), exactKeys = true)
    val (pgSafe, pgSafeBind) = Routing.upsertStatement(pg, "latest", schema, Seq("coin"))
    assert(pgEx == pgSafe && pgExBind.toSeq == pgSafeBind.toSeq)
  }

  test("MERGE upsert, keyed table: NULL-key and non-null-key rows in one batch") {
    val ddl = "coin VARCHAR(16), iv VARCHAR(8), ts BIGINT, price DOUBLE, UNIQUE (coin, iv)"
    Routing.ensureTable(url, "keyed", ddl, props)
    val keys = Seq("coin", "iv")
    // exactly these rows, each once (a stacked NULL key would hide in a Set)
    def assertRows(want: Set[(String, String, Long, Double)]): Unit = {
      val got = spark.read.jdbc(url, "keyed", props).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.length === want.size && got.toSet === want)
    }
    // a fully non-null key takes the exact-key MERGE; a key with any
    // NULL column takes the null-safe one
    val b1 = Seq[(String, String, Long, Double)](("BTC", "1m", 1L, 10.0),
      ("ETH", "1m", 2L, 20.0), (null, "1m", 3L, 30.0), ("BTC", null, 4L, 40.0),
      (null, null, 5L, 50.0)).toDF("coin", "iv", "ts", "price")
    Routing.upsertJdbc(b1, url, "keyed", keys, props)
    // replay: every key matches, nothing stacks (the UNIQUE constraint
    // would refuse a stacked non-null key; NULL keys it lets through)
    Routing.upsertJdbc(b1, url, "keyed", keys, props)
    assertRows(b1.as[(String, String, Long, Double)].collect().toSet)
    // updates of both kinds plus an insert, in one chunk transaction
    val b2 = Seq[(String, String, Long, Double)](("BTC", "1m", 6L, 11.0),
      (null, "1m", 7L, 31.0), ("BTC", null, 8L, 41.0), ("SOL", "1m", 9L, 90.0))
      .toDF("coin", "iv", "ts", "price")
    Routing.upsertJdbc(b2, url, "keyed", keys, props)
    Routing.upsertJdbc(b2, url, "keyed", keys, props)
    assertRows(Set(("BTC", "1m", 6L, 11.0),
      ("ETH", "1m", 2L, 20.0), (null, "1m", 7L, 31.0), ("BTC", null, 8L, 41.0),
      (null, null, 5L, 50.0), ("SOL", "1m", 9L, 90.0)))
  }

  test("upsert reduces a multi-row-per-key batch deterministically") {
    val b0 = Seq(("BTC", 0L, 0.0)).toDF("coin", "ts", "price")
    Routing.ensureTableAndAppend(b0.limit(0), url, "latest2",
      "coin VARCHAR(16), ts BIGINT, price DOUBLE", props)

    // one batch, three rows for BTC: with orderCol the max-ts row wins
    // regardless of row order after the key repartition
    val b = Seq(("BTC", 3L, 13.0), ("BTC", 9L, 19.0), ("BTC", 5L, 15.0),
      ("ETH", 1L, 21.0)).toDF("coin", "ts", "price").repartition(8)
    Routing.upsertJdbc(b, url, "latest2", Seq("coin"), props, orderCol = Some("ts"))
    val rows = spark.read.jdbc(url, "latest2", props).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows === Set(("BTC", 9L, 19.0), ("ETH", 1L, 21.0)))

    // without orderCol: greatest value tuple, still deterministic
    val b2 = Seq(("SOL", 2L, 1.0), ("SOL", 8L, 2.0)).toDF("coin", "ts", "price")
    Routing.upsertJdbc(b2, url, "latest2", Seq("coin"), props)
    val sol = spark.read.jdbc(url, "latest2", props)
      .filter(col("coin") === "SOL").collect()
    assert(sol.length === 1 && sol.head.getLong(1) === 8L)
  }

  test("conflict classifier: SQLState class 40 retries, anything else rethrows") {
    import graft.sinks.Routing.isRetryableConflict
    // Derby serialization failure / PG deadlock — retryable
    assert(isRetryableConflict(new java.sql.SQLTransactionRollbackException(
      "deadlock", "40001")))
    assert(isRetryableConflict(new java.sql.SQLException("pg deadlock", "40P01")))
    // wrapped the way batch drivers deliver it: BatchUpdateException
    // chains via getNextException
    val bue = new java.sql.BatchUpdateException(
      "batch failed", "XJ208", 0, Array.empty[Int], null)
    bue.setNextException(new java.sql.SQLTransactionRollbackException(
      "deadlock", "40001"))
    assert(isRetryableConflict(bue))
    // wrapped via the cause chain
    assert(isRetryableConflict(new RuntimeException("outer",
      new java.sql.SQLException("inner", "40001"))))
    // NOT retryable: constraint violations, syntax errors, null state
    assert(!isRetryableConflict(new java.sql.SQLException("dup key", "23505")))
    assert(!isRetryableConflict(new java.sql.SQLException("no state")))
    assert(!isRetryableConflict(new RuntimeException("plain")))
    // self-referential chains terminate
    val selfRef = new java.sql.SQLException("self", "XX000")
    selfRef.setNextException(selfRef)
    assert(!isRetryableConflict(selfRef))
  }
}
