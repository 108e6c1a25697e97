package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.pipelines.KlinePipeline
import graft.sinks.Routing

/** The flagship's database sink: the kline table's key is a real
  * unique index (what makes each MERGE row an index lookup), and a
  * trigger's sink jobs carry labels a listener can split time by.
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

  test("a trigger's sink jobs are labelled sink:nonempty and sink:upsert") {
    implicit val ctx = spark.sqlContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val ms = MemoryStream[String]
    ms.addData(
      """{"coin":"BTC","timestamp":1704067200000,"open":1.0,"high":2.0,""" +
        """"low":0.5,"close":1.5,"volume":10.0,"close_time":1704067259999,""" +
        """"quote_asset_volume":15.0,"number_of_trades":7,""" +
        """"taker_buy_base_asset_volume":4.0,"taker_buy_quote_asset_volume":6.0,""" +
        """"ignore":"0","interval":"1m"}""")
    val cp = java.nio.file.Files.createTempDirectory("kline-labels-cp").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = KlinePipeline.longtimeJdbc(
        ms.toDF().select(col("value").cast("binary").as("value")),
        url, "klines_labels", props, cp).start()
      try q.processAllAvailable() finally q.stop()
      eventually(timeout(10.seconds)) {
        Seq("sink:nonempty", "sink:upsert").foreach(l =>
          assert(seen.contains(l), s"$l in $seen"))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.jdbc(url, "klines_labels", props).count() == 1L)
  }
}
