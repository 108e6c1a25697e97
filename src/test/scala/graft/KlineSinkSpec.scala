package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

import graft.pipelines.KlinePipeline
import graft.sinks.Routing

/** The flagship's database sink: the kline table's key is a real
  * unique index (what makes each MERGE row an index lookup), a trigger
  * runs one labelled Spark job, empty or not, and the table DDL runs
  * once per started query.
  */
class KlineSinkSpec extends AnyFunSuite with SparkTestBase with Eventually {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftKlineSink;create=true"
  private val props = new java.util.Properties()

  test("KlineDdl: UNIQUE key index on (COIN, INTERVAL, TIMESTAMP), duplicates refused") {
    Routing.ensureTable(url, "klines_keyed", KlinePipeline.KlineDdl, props)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Derby reports the index behind a UNIQUE constraint on nullable
      // columns as NON_UNIQUE (NULL keys may repeat), so getIndexInfo's
      // unique = true filter drops it; list every index, then check the
      // constraint kind in the catalog and the refusal below
      val rs = conn.getMetaData.getIndexInfo(null, null, "KLINES_KEYED", false, false)
      val byIndex = scala.collection.mutable.Map.empty[String, List[(Int, String)]]
      try while (rs.next()) {
        val name = rs.getString("INDEX_NAME")
        byIndex(name) = (rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")) ::
          byIndex.getOrElse(name, Nil)
      } finally rs.close()
      assert(byIndex.values.map(_.sorted.map(_._2)).toSeq ==
        Seq(List("COIN", "INTERVAL", "TIMESTAMP")), s"indexes: $byIndex")
      val kinds = conn.createStatement().executeQuery(
        """SELECT c.TYPE FROM SYS.SYSCONSTRAINTS c JOIN SYS.SYSTABLES t
          |ON c.TABLEID = t.TABLEID WHERE t.TABLENAME = 'KLINES_KEYED'""".stripMargin)
      try assert(Iterator.continually(kinds.next()).takeWhile(identity)
        .map(_ => kinds.getString(1)).toList == List("U"))
      finally kinds.close()

      def insert(coin: String): Unit = {
        val ps = conn.prepareStatement(
          """INSERT INTO klines_keyed ("COIN", "INTERVAL", "TIMESTAMP") VALUES (?, '1m', ?)""")
        try {
          ps.setString(1, coin)
          ps.setTimestamp(2, new java.sql.Timestamp(1704067200000L))
          ps.executeUpdate()
        } finally ps.close()
      }
      insert("BTC")
      val dup = intercept[java.sql.SQLException](insert("BTC"))
      assert(dup.getSQLState == "23505", dup.getMessage)
      // NULL keys are not compared: malformed rows can still be stored
      insert(null)
      insert(null)
      val n = conn.createStatement().executeQuery("SELECT COUNT(*) FROM klines_keyed")
      try { n.next(); assert(n.getLong(1) == 3L) } finally n.close()
    } finally conn.close()
  }

  private def kline(coin: String, ts: Long): String =
    s"""{"coin":"$coin","timestamp":$ts,"open":1.0,"high":2.0,""" +
      s""""low":0.5,"close":1.5,"volume":10.0,"close_time":${ts + 59999},""" +
      """"quote_asset_volume":15.0,"number_of_trades":7,""" +
      """"taker_buy_base_asset_volume":4.0,"taker_buy_quote_asset_volume":6.0,""" +
      """"ignore":"0","interval":"1m"}"""

  private def rows(table: String): Long =
    spark.read.jdbc(url, table, props).count()

  test("one Spark job per kline trigger, labelled sink:upsert, data or watermark-only") {
    implicit val ctx = spark.sqlContext
    // (query run, micro-batch id, job label) of every job started
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach(p => jobs.add((p.getProperty("spark.jobGroup.id"),
          p.getProperty("streaming.sql.batchId"), p.getProperty("spark.job.description"))))
    }
    val t0 = 1704067200000L
    val ms = MemoryStream[String]
    val cp = java.nio.file.Files.createTempDirectory("kline-jobs-cp").toString
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = KlinePipeline.longtimeJdbc(
        ms.toDF().select(col("value").cast("binary").as("value")),
        url, "klines_jobs", props, cp).start()
      try {
        ms.addData(kline("BTC", t0))
        q.processAllAvailable()
        // two hours on: past the one-hour watermark delay, so the next
        // trigger without data evicts BTC's dedup state row
        ms.addData(kline("ETH", t0 + 2 * 3600 * 1000))
        q.processAllAvailable()
        eventually(timeout(30.seconds)) {
          assert(q.recentProgress.exists(p => p.numInputRows == 0 &&
            p.stateOperators.exists(_.numRowsRemoved > 0)), "no evicting no-data trigger yet")
        }
      } finally q.stop()
      q
    } finally spark.sparkContext.removeSparkListener(listener)

    // the batches that ran; idle triggers report progress without one
    val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
    val data = ran.filter(_.numInputRows > 0)
    val evicting = ran.filter(p =>
      p.numInputRows == 0 && p.stateOperators.exists(_.numRowsRemoved > 0))
    assert(data.length == 2 && evicting.nonEmpty, ran.map(_.json).mkString("\n"))
    eventually(timeout(10.seconds)) {
      ran.foreach { p =>
        val labels = jobs.asScala.filter(j =>
          j._1 == q.runId.toString && j._2 == p.batchId.toString).map(_._3).toSeq
        assert(labels == Seq("sink:upsert"),
          s"batch ${p.batchId} (${p.numInputRows} rows) ran jobs $labels; all: ${jobs.asScala.filter(_._1 == q.runId.toString)}")
      }
    }
    // the watermark-only trigger committed its eviction and wrote no row
    assert(rows("klines_jobs") == 2L)
  }

  test("the table DDL runs once per started query, not once per trigger") {
    implicit val ctx = spark.sqlContext
    val t0 = 1704067200000L
    val ms = MemoryStream[String]
    val cp = java.nio.file.Files.createTempDirectory("kline-ddl-cp").toString
    val writer = KlinePipeline.longtimeJdbc(
      ms.toDF().select(col("value").cast("binary").as("value")),
      url, "klines_ddl", props, cp)
    def dropTable(): Unit = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try conn.createStatement().execute("DROP TABLE klines_ddl") finally conn.close()
    }
    // the first data trigger creates the table
    val q1 = writer.start()
    try {
      ms.addData(kline("BTC", t0))
      q1.processAllAvailable()
      assert(rows("klines_ddl") == 1L)
      // a later trigger of the same run does not probe the catalog
      // again, so it cannot re-create a table dropped under it
      dropTable()
      ms.addData(kline("ETH", t0))
      val e = intercept[StreamingQueryException](q1.processAllAvailable())
      assert(e.getMessage.toUpperCase.contains("KLINES_DDL"), e.getMessage)
    } finally q1.stop()
    // a new run of the same writer ensures the table again, and the
    // failed batch replays into it
    val q2 = writer.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(rows("klines_ddl") == 1L)
    assert(spark.read.jdbc(url, "klines_ddl", props)
      .select("COIN").as[String].collect().toSeq == Seq("ETH"))
  }
}
