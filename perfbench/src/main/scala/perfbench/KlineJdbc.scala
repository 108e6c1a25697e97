package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.pipelines.KlinePipeline
import graft.sinks.Routing

/** Binance-poller-shaped kline feed. Each poll round advances the
  * simulated clock one minute and, for each of the 4 coins × 5
  * intervals in a seeded order, sends that minute's candle plus each of
  * the two previous minutes' candles with probability 1/2 — the
  * overlapping re-fetches the reference's pollers make. So about half
  * of all rows are re-sends. A candle's fields are a pure function of
  * (seed, coin, interval, minute), so a re-send is byte-identical.
  */
final class KlineFeed(seed: Long) {
  import KlineFeed._
  private val rnd = new java.util.Random(seed)
  private val t0Ms = 1704067200000L + Math.floorMod(seed, 1000L) * 86400000L
  private val pending = mutable.Queue.empty[(Int, Long)]
  private var minute = 2L
  /** Every distinct (series, minute) sent so far. */
  val distinct = mutable.LinkedHashSet.empty[(Int, Long)]
  var sent = 0L

  def next(n: Int): Seq[String] = {
    while (pending.size < n) {
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until Series).toList)
      order.foreach { s =>
        pending += ((s, minute))
        if (rnd.nextBoolean()) pending += ((s, minute - 1))
        if (rnd.nextBoolean()) pending += ((s, minute - 2))
      }
      minute += 1
    }
    val out = (0 until n).map { _ =>
      val k = pending.dequeue()
      distinct += k
      json(k._1, k._2)
    }
    sent += n
    out
  }

  /** The candle as the enriched row reads back from the database:
    * coin|interval|open time ms|open|high|low|close|volume|close time
    * ms|quote volume|trades|taker base|taker quote|ignore|year|month. */
  def expectedRow(s: Int, m: Long): String = {
    val c = candle(s, m)
    val dt = java.time.Instant.ofEpochMilli(c.ts).atZone(java.time.ZoneOffset.UTC)
    Seq(c.coin, c.interval, c.ts, c.open, c.high, c.low, c.close, c.volume,
      c.ts + 59999, c.qav, c.trades, c.tbb, c.tbq, "0", dt.getYear,
      dt.getMonthValue).mkString("|")
  }

  private def candle(s: Int, m: Long): Candle = {
    val r = new java.util.SplittableRandom(seed * 1000003L + s * 7919L + m * 104729L)
    def cents(max: Int) = r.nextInt(max * 100) / 100.0
    val open = 10 + cents(90)
    Candle(Coins(s % 4), Intervals(s / 4), t0Ms + m * 60000L, open,
      open + cents(5), math.max(0.01, open - cents(5)), 10 + cents(90),
      cents(1000), cents(100000), r.nextInt(5000), cents(500), cents(50000))
  }

  private def json(s: Int, m: Long): String = {
    val c = candle(s, m)
    s"""{"coin":"${c.coin}","timestamp":${c.ts},"open":${c.open},"high":${c.high},""" +
      s""""low":${c.low},"close":${c.close},"volume":${c.volume},"close_time":${c.ts + 59999},""" +
      s""""quote_asset_volume":${c.qav},"number_of_trades":${c.trades},""" +
      s""""taker_buy_base_asset_volume":${c.tbb},"taker_buy_quote_asset_volume":${c.tbq},""" +
      s""""ignore":"0","interval":"${c.interval}"}"""
  }
}

object KlineFeed {
  val Coins = Seq("BTCUSDC", "ETHUSDC", "XRPUSDC", "SOLUSDC")
  val Intervals = Seq("1m", "5m", "15m", "1h", "1d")
  val Series: Int = Coins.size * Intervals.size
  final case class Candle(coin: String, interval: String, ts: Long, open: Double,
                          high: Double, low: Double, close: Double, volume: Double,
                          qav: Double, trades: Int, tbb: Double, tbq: Double)
}

/** `kline_jdbc`: the reference's flagship job, `KlinePipeline.longtimeJdbc`
  * (parse → enrich → keyed watermark dedup → per-batch MERGE into an
  * embedded in-memory Derby database), as-soon-as-possible trigger.
  * The per-row work is small, so per-trigger fixed cost and the JDBC
  * sink decide latency.
  */
final class KlineJdbc(seed: Long) extends Workload {
  /** About a sixth of the ceiling measured on a 4-core box (~600 rows/s,
    * bounded by the Derby MERGE): low enough that trigger time is mostly
    * per-trigger cost, so latency is steady from run to run. */
  val FixedRate = 100.0
  /** The saturating bursts: each about 7 s of input at the fixed rate,
    * committed by one trigger. Several, because the time the Derby
    * MERGE takes for one burst varies by a fifth from run to run. */
  val Bursts = 4
  val BurstRows = 750
  val WarmRows = 100
  val WarmTriggers = 2
  private val table = "KLINES"
  private val props = new java.util.Properties()
  private var url = ""
  private var dbSerial = 0

  def prepare(spark: SparkSession, dir: Path): Unit = {
    if (url.nonEmpty) dropDb()
    dbSerial += 1
    url = s"jdbc:derby:memory:perfbench$dbSerial;create=true"
    Routing.ensureTable(url, table, KlinePipeline.KlineDdl, props)
  }

  private def dropDb(): Unit =
    try java.sql.DriverManager.getConnection(
      url.replace(";create=true", ";drop=true"), props).close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  def run(ctx: Ctx): Result = {
    implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    val feed = new KlineFeed(ctx.seed)
    val ms = MemoryStream[String](Main.Cores)
    def send(n: Int): Long = ms.addData(feed.next(n)).json().toLong
    val shaped = ms.toDF().select(col("value").cast("binary").as("value"))
    val cp = ctx.runDir.resolve("kline-checkpoint").toString
    val o = Streams.run(ctx, FixedRate, Bursts, BurstRows, WarmRows, WarmTriggers, send,
      () => KlinePipeline.longtimeJdbc(shaped, url, table, props, cp).start(),
      "sinks.upsert_ms")

    // output check: the table holds exactly the distinct candles sent
    val got = mutable.Map.empty[String, Int]
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "COIN","INTERVAL","TIMESTAMP","OPEN","HIGH","LOW","CLOSE","VOLUME",
          |"CLOSE_TIME","QUOTE_ASSET_VOLUME","NUMBER_OF_TRADES",
          |"TAKER_BUY_BASE_ASSET_VOLUME","TAKER_BUY_QUOTE_ASSET_VOLUME","IGNORE",
          |"YEAR","MONTH" FROM KLINES""".stripMargin)
      while (rs.next()) {
        val row = Seq(rs.getString(1), rs.getString(2), rs.getTimestamp(3).getTime,
          rs.getDouble(4), rs.getDouble(5), rs.getDouble(6), rs.getDouble(7),
          rs.getDouble(8), rs.getTimestamp(9).getTime, rs.getDouble(10), rs.getInt(11),
          rs.getDouble(12), rs.getDouble(13), rs.getString(14), rs.getInt(15),
          rs.getInt(16)).mkString("|")
        got(row) = got.getOrElse(row, 0) + 1
      }
    } finally conn.close()
    dropDb()
    val expected = feed.distinct.iterator.map { case (s, m) => feed.expectedRow(s, m) }.toSet
    val missing = expected.count(e => !got.contains(e))
    val extra = got.iterator.map { case (r, n) => if (expected(r)) n - 1 else n }.sum
    val dupShare = 1.0 - feed.distinct.size.toDouble / feed.sent
    val layers = o.layers ++ Map("sinks.rows_upserted" -> got.values.sum.toDouble)
    Result(feed.sent, missing + extra, o.valid,
      (Seq(f"re-sent share ${dupShare * 100}%.1f%% of ${feed.sent} rows, " +
        s"${expected.size} distinct candles, missing $missing, extra $extra") ++
        Seq(o.note).filter(_.nonEmpty)).mkString("; "),
      o.e2e, layers)
  }
}
