package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.etl.DedupIngest

/** The incremental admission's Bloom chain (`admitBatchIncremental`):
  * the blob each trigger writes, its loud failure, and the labels on
  * the trigger's jobs.
  */
class BloomChainSpec extends AnyFunSuite with SparkTestBase with Eventually {
  import spark.implicits._

  private val DefaultBits = 67108864L // stat.bloomFilter's 64 Mbit clamp

  private def admit(dir: String, cp: String, id: Long,
                    rows: Seq[(Long, String)]): Long =
    DedupIngest.admitBatchIncremental(spark, rows.toDF("doc_id", "text"),
      dir, cp, batchId = id, key = "text", tiebreaker = "doc_id", runTag = "t")

  private def blob(cp: String, id: Long): Array[Byte] =
    Files.readAllBytes(Paths.get(cp, "graft-bloom", s"bloom-t-$id"))

  private def bytes(f: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  /** The distributed build the chain used to merge in: the admitted
    * `_fp` of the given fps partitions at the default geometry. */
  private def built(dir: String, parts: String*): BloomFilter = {
    val f = spark.read.parquet(dir + "_fps")
      .filter(col("_ingest_batch").cast("string").isin(parts: _*))
      .stat.bloomFilter("_fp", 10000000L, 0.01)
    assert(f.bitSize() == DefaultBits)
    f
  }

  test("each blob equals the distributed build of its admitted fps merged into the prior") {
    // prior from the rebuild-from-index path: bootstrapped corpus,
    // fresh checkpoint
    val dir = Files.createTempDirectory("chain-idx").toString + "/corpus"
    val cp = Files.createTempDirectory("chain-idx-cp").toString
    DedupIngest.bootstrapCorpus(spark,
      (0L until 50L).map(i => (i, s"boot$i")).toDF("doc_id", "text"),
      dir, key = "text", tiebreaker = "doc_id")
    assert(admit(dir, cp, 0L, Seq((100L, "boot3"), (101L, "n1"), (102L, "n2"))) == 2L)
    val want0 = built(dir, "bootstrap")
    want0.mergeInPlace(built(dir, "t-0"))
    assert(blob(cp, 0L).sameElements(bytes(want0)), "index-rebuilt prior ∪ batch 0")

    // prior loaded from the chain's own blob
    assert(admit(dir, cp, 1L, Seq((103L, "n1"), (104L, "n3"), (105L, "boot7"))) == 1L)
    val want1 = BloomFilter.readFrom(new java.io.ByteArrayInputStream(blob(cp, 0L)))
    want1.mergeInPlace(built(dir, "t-1"))
    assert(want1.bitSize() == DefaultBits)
    assert(blob(cp, 1L).sameElements(bytes(want1)), "blob 0 ∪ batch 1")

    // n == 0: the blob is the prior verbatim
    assert(admit(dir, cp, 2L, Seq((106L, "n2"), (107L, "boot9"))) == 0L)
    assert(blob(cp, 2L).sameElements(blob(cp, 1L)), "empty batch must copy the prior")
  }

  test("an empty-corpus first batch builds its blob from the admitted fps alone") {
    val dir = Files.createTempDirectory("chain-empty").toString + "/corpus"
    val cp = Files.createTempDirectory("chain-empty-cp").toString
    assert(admit(dir, cp, 0L, Seq((0L, "a"), (1L, "b"), (2L, "a"))) == 2L)
    assert(blob(cp, 0L).sameElements(bytes(built(dir, "t-0"))))
  }

  test("a failed bloom rename fails the trigger before any fps or docs commit") {
    CrashFileSystem.install(spark)
    val root = Files.createTempDirectory("chain-fail").toString
    val (dir, cp) = (s"crash://$root/corpus", s"crash://$root/cp")
    try {
      assert(admit(dir, cp, 0L, Seq((0L, "a"), (1L, "b"))) == 2L)
      assert(admit(dir, cp, 1L, Seq((2L, "c"))) == 1L)
      // the new blob's rename is the trigger's first commit step
      CrashFileSystem.arm(1, crash = false)
      val e = intercept[java.io.IOException](
        admit(dir, cp, 2L, Seq((3L, "c"), (4L, "d"))))
      assert(e.getMessage.contains("writeBloom"), e.getMessage)
      // nothing of batch 2 committed: no blob, no fps, no documents
      assert(!Files.exists(Paths.get(root, "cp", "graft-bloom", "bloom-t-2")))
      assert(!Files.exists(Paths.get(root, "corpus_fps", "_ingest_batch=t-2")))
      assert(!Files.exists(Paths.get(root, "corpus", "_ingest_batch=t-2")))
      // the replay, once the rename works, admits only the new key
      CrashFileSystem.disarm()
      assert(admit(dir, cp, 2L, Seq((3L, "c"), (4L, "d"))) == 1L)
      assert(spark.read.parquet(s"$root/corpus").select("doc_id", "text")
        .as[(Long, String)].collect().toSet ==
        Set((0L, "a"), (1L, "b"), (2L, "c"), (4L, "d")))
    } finally {
      CrashFileSystem.disarm()
      CrashFileSystem.uninstall(spark)
    }
  }

  test("described restores the caller's job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      assert(GraftSession.described(spark, "inner")(
        sc.getLocalProperty("spark.job.description")) == "inner")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
    GraftSession.described(spark, "inner")(())
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("an incremental admission labels its actions") {
    val dir = Files.createTempDirectory("chain-labels").toString + "/corpus"
    val cp = Files.createTempDirectory("chain-labels-cp").toString
    admit(dir, cp, 0L, Seq((0L, "a")))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(admit(dir, cp, 1L, Seq((1L, "a"), (2L, "b"))) == 1L)
      eventually(timeout(10.seconds)) {
        Seq("admit:count", "admit:bloom-fold", "admit:commit-fps",
          "admit:commit-corpus").foreach(l => assert(seen.contains(l), s"$l in $seen"))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
