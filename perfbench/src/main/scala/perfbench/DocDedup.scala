package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.etl.DedupIngest

/** Document feed with planted exact duplicates: each document is, with
  * probability 1/10, a copy of a bootstrapped document's text, with
  * probability 1/10 a copy of an earlier streamed document's text, and
  * otherwise new text. Stream ids start above every bootstrap id and
  * increase, so the first copy of a text is the one admission keeps.
  */
final class DocFeed(seed: Long, bootstrap: IndexedSeq[(Long, String)]) {
  private val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
  private val streamed = mutable.ArrayBuffer.empty[String]
  private val seen = mutable.HashSet.empty[String] ++= bootstrap.map(_._2)
  private var nextId = DocFeed.StreamIdBase
  /** Documents the corpus must gain: first copies of new texts. */
  val admitted = mutable.ArrayBuffer.empty[(Long, String)]
  var sent = 0L
  var planted = 0L

  def next(n: Int): Seq[(Long, String)] = (0 until n).map { _ =>
    val u = rnd.nextDouble()
    val text =
      if (u < 0.1) bootstrap(rnd.nextInt(bootstrap.size))._2
      else if (u < 0.2 && streamed.nonEmpty) streamed(rnd.nextInt(streamed.size))
      else DocFeed.text(rnd, nextId)
    val id = nextId
    nextId += 1
    sent += 1
    if (seen.add(text)) { admitted += ((id, text)); streamed += text }
    else planted += 1
    (id, text)
  }
}

object DocFeed {
  val StreamIdBase = 1000000L
  private val Vocab = (0 until 2000).map(i => Integer.toString(i * 7919 + 104729, 36))

  /** 12–40 vocabulary words plus a serial token, so distinct serials
    * give distinct texts. */
  def text(rnd: java.util.Random, serial: Long): String =
    (Seq.fill(12 + rnd.nextInt(29))(Vocab(rnd.nextInt(Vocab.size))) :+
      s"doc$serial").mkString(" ")

  def bootstrapDocs(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val rnd = new java.util.Random(seed)
    (0 until n).map(i => (i.toLong, text(rnd, i.toLong)))
  }
}

/** `doc_dedup`: `DedupIngest.startIncremental` exact-dedup admission
  * (Bloom chain → fingerprint anti-join → partitioned corpus commit)
  * against a corpus bootstrapped with `bootstrapCorpus`, as-soon-as-
  * possible trigger. Its per-trigger cost is `graft.etl` and its
  * rename-based file commits; corpus and fingerprint files grow during
  * the run.
  */
final class DocDedup(seed: Long) extends Workload {
  /** Far below the ceiling (a trigger costs ~2.7 s however few rows it
    * holds, so the ceiling on a 4-core box is over 10k rows/s): trigger
    * time is mostly per-trigger cost, so latency is steady from run to
    * run. */
  val FixedRate = 1000.0
  /** The saturating burst: about 50 s of input at the fixed rate, all
    * committed by one trigger. */
  val Bursts = 1
  val BurstRows = 50000
  val WarmRows = 100
  val WarmTriggers = 1
  val BootstrapDocs = 1000
  private val docs = DocFeed.bootstrapDocs(seed, BootstrapDocs)
  private var corpusDir = ""
  val bootstrapS = mutable.ArrayBuffer.empty[Double]

  def prepare(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    corpusDir = dir.resolve("corpus").toString
    val t0 = System.nanoTime()
    DedupIngest.bootstrapCorpus(spark, docs.toDF("doc_id", "text"), corpusDir,
      key = "text", tiebreaker = "doc_id")
    bootstrapS += (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx): Result = {
    implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    val feed = new DocFeed(ctx.seed, docs)
    val ms = MemoryStream[(Long, String)](Main.Cores)
    def send(n: Int): Long = ms.addData(feed.next(n)).json().toLong
    val cp = ctx.runDir.resolve("dedup-checkpoint").toString
    val o = Streams.run(ctx, FixedRate, Bursts, BurstRows, WarmRows, WarmTriggers, send,
      () => DedupIngest.startIncremental(ms.toDF().toDF("doc_id", "text"), corpusDir, cp,
        key = "text", tiebreaker = "doc_id",
        trigger = Trigger.ProcessingTime(0L)),
      "etl.admit_ms")

    // output check: bootstrap plus exactly the first copies of new texts
    val got = ctx.spark.read.parquet(corpusDir).select("doc_id", "text")
      .as[(Long, String)].collect()
    val expected = (docs ++ feed.admitted).toSet
    val gotCounts = got.groupBy(identity).map { case (k, v) => k -> v.length }
    val missing = expected.count(e => !gotCounts.contains(e))
    val extra = gotCounts.iterator.map { case (r, n) => if (expected(r)) n - 1 else n }.sum
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(corpusDir))
    val nFiles = try files.filter(_.toString.endsWith(".parquet")).count() finally files.close()
    val layers = o.layers ++ Map(
      "etl.admit_ratio" -> feed.admitted.size.toDouble / math.max(1L, feed.sent),
      "etl.corpus_files" -> nFiles.toDouble,
      "etl.bootstrap_s" -> Stats.median(bootstrapS.toSeq))
    Result(feed.sent, missing + extra, o.valid,
      (Seq(f"planted duplicates ${feed.planted * 100.0 / math.max(1L, feed.sent)}%.1f%% of " +
        s"${feed.sent} documents, admitted ${feed.admitted.size}, missing $missing, extra $extra") ++
        Seq(o.note).filter(_.nonEmpty)).mkString("; "),
      o.e2e, layers)
  }
}
