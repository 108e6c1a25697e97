package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.DedupIngest

/** Streaming dedup ingest (etl.DedupIngest): cross-batch admission
  * against the growing corpus, exactly-once BY ADMISSION (a replayed
  * batch admits nothing), bootstrap-corpus participation.
  */
class DedupIngestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private implicit def ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def drain(stream: MemoryStream[(Long, String)], dir: String,
                    cp: String): Unit = {
    val q = DedupIngest.start(
      stream.toDF().toDF("doc_id", "text"), dir, cp,
      key = "text", tiebreaker = "doc_id", trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }

  test("cross-batch dedup: later batches admit only genuinely new keys") {
    val dir = Files.createTempDirectory("dedup-ingest").toString + "/corpus"
    val cp = Files.createTempDirectory("dedup-ingest-cp").toString
    val stream = MemoryStream[(Long, String)]

    // batch 1: a + b, with an in-batch dup of a (higher id loses)
    stream.addData((0L, "a"), (1L, "b"), (2L, "a"))
    drain(stream, dir, cp)
    val after1 = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(after1 == Set((0L, "a"), (1L, "b")))

    // batch 2: all dups of the standing corpus → empty append
    stream.addData((3L, "a"), (4L, "b"))
    drain(stream, dir, cp)
    assert(spark.read.parquet(dir).count() == 2)

    // batch 3: one new key among dups
    stream.addData((5L, "a"), (6L, "c"))
    drain(stream, dir, cp)
    val after3 = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(after3 == Set((0L, "a"), (1L, "b"), (6L, "c")))
  }

  test("bootstrapped corpus participates: backfilled keys block admission") {
    val dir = Files.createTempDirectory("dedup-boot").toString + "/corpus"
    val cp = Files.createTempDirectory("dedup-boot-cp").toString
    // corpus written OUTSIDE the stream (backfill/migration)
    Seq((100L, "x"), (101L, "y")).toDF("doc_id", "text")
      .write.parquet(dir)
    val stream = MemoryStream[(Long, String)]
    stream.addData((0L, "x"), (1L, "z"))
    drain(stream, dir, cp)
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got == Set((100L, "x"), (101L, "y"), (1L, "z")))
  }

  test("crash between append and checkpoint commit: replay is a no-op") {
    val dir = Files.createTempDirectory("dedup-crash").toString + "/corpus"
    val cp = Files.createTempDirectory("dedup-crash-cp").toString
    val stream = MemoryStream[(Long, String)]

    // leg 1: batch lands in the corpus, then the epoch "crashes" AFTER
    // the parquet append but BEFORE the checkpoint commit — simulated
    // by admitting the batch directly (the append succeeded) while the
    // streaming checkpoint never saw the batch.
    stream.addData((0L, "a"), (1L, "b"))
    DedupIngest.admitBatch(spark,
      Seq((0L, "a"), (1L, "b")).toDF("doc_id", "text"),
      dir, "text", "doc_id")
    assert(spark.read.parquet(dir).count() == 2)

    // leg 2: the stream (fresh checkpoint offset) REPLAYS the same
    // rows — admission must add nothing and must not throw
    drain(stream, dir, cp)
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got == Set((0L, "a"), (1L, "b")), "replay duplicated rows")
  }

  // ---- incremental-Bloom admission (O(batch) per trigger) ---- //

  private def drainInc(stream: MemoryStream[(Long, String)], dir: String,
                       cp: String): Unit = {
    val q = DedupIngest.startIncremental(
      stream.toDF().toDF("doc_id", "text"), dir, cp,
      key = "text", tiebreaker = "doc_id", expectedItems = 100000L,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }

  private def incIds(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).select("doc_id", "text")
      .as[(Long, String)].collect().toSet

  test("incremental admission matches admitBatch semantics across an arrival sequence") {
    val rnd = new scala.util.Random(43)
    val dir = Files.createTempDirectory("inc-prop").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-prop-cp").toString
    val stream = MemoryStream[(Long, String)]
    var id = 0L
    var expected = Map.empty[String, Long]
    for (_ <- 0 until 5) {
      val batch = (0 until 40).map { _ =>
        id += 1
        (id, s"k${rnd.nextInt(30)}")
      }
      batch.groupBy(_._2).foreach { case (k, rows) =>
        if (!expected.contains(k)) expected += k -> rows.map(_._1).min
      }
      stream.addData(batch: _*)
      drainInc(stream, dir, cp)
    }
    assert(incIds(dir).map(_.swap).toMap == expected)
    // the fingerprint index carries exactly the admitted keys
    val fps = spark.read.parquet(dir + "_fps").select("text").as[String]
      .collect().toSet
    assert(fps == expected.keySet)
  }

  test("incremental per-trigger plan reads fingerprints, never corpus documents") {
    val dir = Files.createTempDirectory("inc-plan").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-plan-cp").toString
    val stream = MemoryStream[(Long, String)]
    stream.addData((0L, "a"), (1L, "b"), (2L, "c"))
    drainInc(stream, dir, cp)
    // the admission DECISION for a follow-up batch, planned exactly as
    // admitBatchIncremental plans it (prior bloom + index-minus-own)
    val filter = spark.sparkContext.broadcast(
      spark.read.parquet(dir + "_fps").stat.bloomFilter("_fp", 100000L, 0.01))
    val plan = DedupIngest.incrementalAdmissionPlan(spark,
      Seq((3L, "a"), (4L, "d")).toDF("doc_id", "text"),
      dir + "_fps", Some(filter), "tag-1", "text", "doc_id")
    // decision is right...
    assert(plan.select("doc_id").as[Long].collect().toSet == Set(4L))
    // ...and its physical plan scans the fingerprint sidecar, NOT the
    // corpus documents (strip _fps occurrences, then look for the dir)
    val physical = plan.queryExecution.executedPlan.toString
    assert(physical.contains("_fps"), s"no fingerprint scan in:\n$physical")
    assert(!physical.replace(dir + "_fps", "").contains(dir),
      s"corpus-document scan leaked into the per-trigger plan:\n$physical")
  }

  test("incremental crash replay: same batch id recomputes and overwrites, no dup/loss") {
    val dir = Files.createTempDirectory("inc-crash").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-crash-cp").toString
    // batch 0 fully commits all three states (bloom, fps, docs), then
    // the checkpoint "crashes" — simulated by direct re-admission of
    // the SAME batch id
    DedupIngest.admitBatchIncremental(spark,
      Seq((0L, "x"), (1L, "y")).toDF("doc_id", "text"),
      dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    DedupIngest.admitBatchIncremental(spark,
      Seq((0L, "x"), (1L, "y")).toDF("doc_id", "text"),
      dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    assert(incIds(dir) == Set((0L, "x"), (1L, "y")), "replay duplicated rows")
    assert(spark.read.parquet(dir + "_fps").count() == 2)
    // follow-up batch still dedups against the replayed state
    val n = DedupIngest.admitBatchIncremental(spark,
      Seq((2L, "x"), (3L, "z")).toDF("doc_id", "text"),
      dir, cp, batchId = 1L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    assert(n == 1L)
    assert(incIds(dir) == Set((0L, "x"), (1L, "y"), (3L, "z")))
  }

  test("incremental bootstrap: backfilled corpus blocks admission; unindexed corpus fails loudly") {
    val dir = Files.createTempDirectory("inc-boot").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-boot-cp").toString
    // an unindexed corpus (written outside this mode) must refuse
    // rather than silently re-admit its keys
    Seq((100L, "x")).toDF("doc_id", "text").write.parquet(dir)
    val e = intercept[IllegalStateException] {
      DedupIngest.admitBatchIncremental(spark,
        Seq((0L, "x")).toDF("doc_id", "text"),
        dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id")
    }
    assert(e.getMessage.contains("bootstrapCorpus"))

    // proper path: bootstrapCorpus, then stream against it
    val dir2 = Files.createTempDirectory("inc-boot2").toString + "/corpus"
    DedupIngest.bootstrapCorpus(spark,
      Seq((100L, "x"), (101L, "y"), (102L, "y")).toDF("doc_id", "text"),
      dir2, key = "text", tiebreaker = "doc_id")
    val stream = MemoryStream[(Long, String)]
    stream.addData((0L, "x"), (1L, "z"))
    drainInc(stream, dir2, cp)
    assert(incIds(dir2) == Set((100L, "x"), (101L, "y"), (1L, "z")))
  }

  test("incremental: fresh checkpoint over an existing corpus rebuilds bloom from the index") {
    val dir = Files.createTempDirectory("inc-fresh").toString + "/corpus"
    val cp1 = Files.createTempDirectory("inc-fresh-cp1").toString
    val cp2 = Files.createTempDirectory("inc-fresh-cp2").toString
    val s1 = MemoryStream[(Long, String)]
    s1.addData((0L, "a"), (1L, "b"))
    val q1 = DedupIngest.startIncremental(
      s1.toDF().toDF("doc_id", "text"), dir, cp1,
      key = "text", tiebreaker = "doc_id", expectedItems = 100000L,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    // run 2: NEW checkpoint (new tag, batch ids restart at 0) — its
    // first batch has no bloom under its tag and must repair from the
    // fps index, so run 1's keys still block admission
    val s2 = MemoryStream[(Long, String)]
    s2.addData((10L, "a"), (11L, "c"))
    val q2 = DedupIngest.startIncremental(
      s2.toDF().toDF("doc_id", "text"), dir, cp2,
      key = "text", tiebreaker = "doc_id", expectedItems = 100000L,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    assert(incIds(dir) == Set((0L, "a"), (1L, "b"), (11L, "c")))
  }

  test("incremental: stale bloom chain after partial checkpoint cleanup fails loudly; fresh checkpoint recovers") {
    val dir = Files.createTempDirectory("inc-stale").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-stale-cp").toString
    // run 1 under tag "t": two batches → blobs {0, 1}; bloom-0 lacks
    // "c" (admitted in batch 1)
    DedupIngest.admitBatchIncremental(spark,
      Seq((0L, "a"), (1L, "b")).toDF("doc_id", "text"),
      dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    DedupIngest.admitBatchIncremental(spark,
      Seq((2L, "c")).toDF("doc_id", "text"),
      dir, cp, batchId = 1L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    // "partial checkpoint cleanup": offsets/commits gone, bloom chain
    // survives, batch ids restart at 0 under the SAME tag. Without the
    // guard this silently corrupted the corpus twice over: the
    // restarted batch 0 treated run-1's t-0 partition as its own
    // crashed attempt (probe-excluded ⇒ "a" re-admitted, then the
    // partition OVERWRITTEN ⇒ (0,a),(1,b) lost), and a later batch
    // reading stale bloom-0 bloom-missed "c" (false negative ⇒ no
    // exact check ⇒ duplicate admitted). The guard refuses instead.
    val e = intercept[IllegalStateException] {
      DedupIngest.admitBatchIncremental(spark,
        Seq((10L, "a")).toDF("doc_id", "text"),
        dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id",
        expectedItems = 100000L, runTag = "t")
    }
    assert(e.getMessage.toLowerCase.contains("fresh checkpoint"))
    // nothing was admitted, overwritten, or lost
    assert(incIds(dir) == Set((0L, "a"), (1L, "b"), (2L, "c")))
    // the documented recovery — a FRESH checkpoint directory (new
    // tag) — rebuilds the filter from the fingerprint index and
    // admits exactly the genuinely-new keys, no dup, no loss
    val cp2 = Files.createTempDirectory("inc-stale-cp2").toString
    val n0 = DedupIngest.admitBatchIncremental(spark,
      Seq((10L, "a")).toDF("doc_id", "text"),
      dir, cp2, batchId = 0L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t2")
    assert(n0 == 0L, "duplicate 'a' admitted after fresh-checkpoint recovery")
    val n1 = DedupIngest.admitBatchIncremental(spark,
      Seq((11L, "c"), (12L, "z")).toDF("doc_id", "text"),
      dir, cp2, batchId = 1L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t2")
    assert(n1 == 1L, s"expected only 'z' admitted, got $n1 admissions")
    assert(incIds(dir) ==
      Set((0L, "a"), (1L, "b"), (2L, "c"), (12L, "z")),
      "fresh-checkpoint recovery caused a duplicate admission or a loss")
  }

  test("incremental: empty first batch then bootstrap backfill — backfilled keys still block admission") {
    // an empty batch on an empty corpus must write NO bloom blob: a
    // persisted empty filter would outlive the bootstrap backfill and
    // bloom-false-negative its keys straight past the exact check
    // (code-review r8 finding; the absent blob keeps the
    // rebuild-from-index repair path reachable)
    val dir = Files.createTempDirectory("inc-empty").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-empty-cp").toString
    assert(DedupIngest.admitBatchIncremental(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t") == 0L)
    DedupIngest.bootstrapCorpus(spark,
      Seq((0L, "a"), (1L, "b")).toDF("doc_id", "text"),
      dir, key = "text", tiebreaker = "doc_id")
    val n = DedupIngest.admitBatchIncremental(spark,
      Seq((10L, "a"), (11L, "z")).toDF("doc_id", "text"),
      dir, cp, batchId = 1L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    assert(n == 1L, s"backfilled 'a' re-admitted after an empty first batch ($n)")
    assert(incIds(dir).map(_._2) == Set("a", "b", "z"))
  }

  test("incremental: bootstrap backfill AFTER a blob-writing batch invalidates the chain") {
    // the residual hazard past the empty-batch case (code-review r8
    // finding 2): batch 0 ADMITS and writes bloom-0; a backfill then
    // lands keys bloom-0 has never seen. The bootstrap-epoch guard
    // must invalidate the pre-backfill chain so batch 1 rebuilds from
    // the fingerprint index instead of bloom-false-negativing the
    // backfilled keys into duplicates.
    val dir = Files.createTempDirectory("inc-epoch").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-epoch-cp").toString
    assert(DedupIngest.admitBatchIncremental(spark,
      Seq((0L, "x")).toDF("doc_id", "text"),
      dir, cp, batchId = 0L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t") == 1L)
    DedupIngest.bootstrapCorpus(spark,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
      dir, key = "text", tiebreaker = "doc_id")
    val n = DedupIngest.admitBatchIncremental(spark,
      Seq((10L, "a"), (11L, "x"), (12L, "z")).toDF("doc_id", "text"),
      dir, cp, batchId = 1L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    assert(n == 1L, s"pre-backfill bloom chain leaked a duplicate ($n admitted)")
    assert(incIds(dir).map(_._2) == Set("x", "a", "b", "z"))
    // the chain is O(batch) again at the new epoch — pinned DIRECTLY
    // on the filesystem state, because admission alone cannot tell the
    // fast path from the rebuild path (both admit correctly; a broken
    // re-stamp would stay green forever — code-review r8): batch 1's
    // blob must exist and the chain's epoch stamp must now EQUAL the
    // bootstrap marker, which is exactly the condition batch 2 checks
    // to skip the drop/rebuild
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assert(new java.io.File(s"$cp/graft-bloom/bloom-t-1").isFile,
      "batch 1 wrote no bloom blob — the chain did not resume")
    assert(read(s"$cp/graft-bloom/bloomepoch-t") ==
      read(s"${dir}_fps/_graft_bootstrap_epoch"),
      "chain epoch was not re-stamped to the bootstrap marker")
    // and a further batch admits against the resumed chain: 'z' now
    // blocks, a genuinely new key passes
    val n2 = DedupIngest.admitBatchIncremental(spark,
      Seq((20L, "z"), (21L, "w")).toDF("doc_id", "text"),
      dir, cp, batchId = 2L, key = "text", tiebreaker = "doc_id",
      expectedItems = 100000L, runTag = "t")
    assert(n2 == 1L)
  }

  test("incremental soak: mid-run bootstrap backfill + crash replay stay exactly-once") {
    // the epoch guard under soak conditions: 8 streamed batches build
    // a bloom chain; a bootstrapCorpus backfill lands 60 keys the
    // chain has never seen; the FIRST post-backfill admission runs as
    // a manual "crashed" batch (all three states commit, checkpoint
    // doesn't) and is then REPLAYED by the stream under the same id.
    // The epoch mismatch must drop the stale chain exactly once, the
    // replay must land on the repair path without duplicating, and
    // later batches must dedup against stream keys, backfilled keys,
    // and each other.
    val rnd = new scala.util.Random(53)
    val dir = Files.createTempDirectory("inc-bf-soak").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-bf-soak-cp").toString
    val stream = MemoryStream[(Long, String)]
    var id = 0L
    var expected = Map.empty[String, Long]
    def mkBatch(keys: Seq[String]): Seq[(Long, String)] = {
      val b = keys.map { k => id += 1; (id, k) }
      b.groupBy(_._2).foreach { case (k, rows) =>
        if (!expected.contains(k)) expected += k -> rows.map(_._1).min
      }
      b
    }
    for (_ <- 0 until 8) {
      stream.addData(mkBatch((0 until 25).map(_ => s"k${rnd.nextInt(120)}")): _*)
      drainInc(stream, dir, cp)
    }
    // backfill: 60 keys DISJOINT from the stream key space (the
    // bootstrap contract: backfills are new corpus content, not a
    // second writer for standing keys), with in-backfill duplicates
    // so its own exactKeepFirst is exercised
    val backfill = mkBatch((0 until 80).map(_ => s"bk${rnd.nextInt(60)}"))
    DedupIngest.bootstrapCorpus(spark, backfill.toDF("doc_id", "text"),
      dir, key = "text", tiebreaker = "doc_id")
    // crashed first post-backfill batch (commits, checkpoint unaware),
    // then the stream replays it under the same id — tag derivation
    // matches startIncremental's so the replay overwrites in place
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(cp.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val crashed = mkBatch(
      Seq("bk0", "bk1", "k0") ++ (0 until 10).map(_ => s"c${rnd.nextInt(8)}"))
    DedupIngest.admitBatchIncremental(spark,
      crashed.toDF("doc_id", "text"), dir, cp, batchId = 8L,
      key = "text", tiebreaker = "doc_id", expectedItems = 100000L,
      runTag = tag)
    stream.addData(crashed: _*)
    drainInc(stream, dir, cp)
    // post-backfill batches mix stream keys, backfilled keys, and new
    for (i <- 0 until 8) {
      stream.addData(mkBatch(
        (0 until 10).map(_ => s"k${rnd.nextInt(120)}") ++
        (0 until 10).map(_ => s"bk${rnd.nextInt(60)}") ++
        (0 until 5).map(j => s"n$i-$j")): _*)
      drainInc(stream, dir, cp)
    }
    val got = incIds(dir).map(_.swap).toMap
    assert(got == expected,
      s"backfill soak diverged: ${(got.toSet diff expected.toSet).take(3)} extra, " +
        s"${(expected.toSet diff got.toSet).take(3)} missing")
    assert(spark.read.parquet(dir + "_fps").count() == expected.size)
  }

  test("incremental soak: 40 micro-batches with a mid-run crash stay exactly-once") {
    val rnd = new scala.util.Random(47)
    val dir = Files.createTempDirectory("inc-soak").toString + "/corpus"
    val cp = Files.createTempDirectory("inc-soak-cp").toString
    val stream = MemoryStream[(Long, String)]
    var id = 0L
    var expected = Map.empty[String, Long]
    for (i <- 0 until 40) {
      val batch = (0 until 25).map { _ =>
        id += 1
        (id, s"k${rnd.nextInt(200)}")
      }
      batch.groupBy(_._2).foreach { case (k, rows) =>
        if (!expected.contains(k)) expected += k -> rows.map(_._1).min
      }
      stream.addData(batch: _*)
      if (i == 20) {
        // crash simulation: the batch fully commits its three states
        // (bloom, fps, docs) but the streaming checkpoint never sees
        // it — the stream then REPLAYS it as its own next batch id.
        // runTag matches startIncremental's derivation so the replay
        // overwrites these exact partitions.
        val tag = java.security.MessageDigest.getInstance("SHA-256")
          .digest(cp.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
        DedupIngest.admitBatchIncremental(spark,
          batch.toDF("doc_id", "text"), dir, cp, batchId = i.toLong,
          key = "text", tiebreaker = "doc_id", expectedItems = 100000L,
          runTag = tag)
      }
      drainInc(stream, dir, cp)
    }
    val got = incIds(dir).map(_.swap).toMap
    assert(got == expected, "soak corpus diverged from reference admission")
    // fingerprint index and corpus agree row-for-row
    assert(spark.read.parquet(dir + "_fps").count() == expected.size)
    // the bloom chain is pruned — a replay only needs N-1, so the
    // checkpoint must not accumulate one blob per batch
    val blooms = Option(new java.io.File(s"$cp/graft-bloom").list())
      .fold(0)(_.count(_.startsWith("bloom-")))
    assert(blooms <= 3, s"bloom chain unpruned: $blooms blobs after 40 batches")
  }

  private val base = "the quick brown fox jumps over the lazy dog while " +
    "seventeen astronauts carefully measure gravitational anomalies near " +
    "the ancient observatory during a long cold winter night in montana"
  private val nearDup = base.replace("cold winter", "cold snowy winter")
  private val unrelated = "completely unrelated content about cooking pasta " +
    "with garlic butter sauce and fresh basil leaves from the garden " +
    "served alongside a crisp white wine on a warm summer evening"

  private def drainNear(stream: MemoryStream[(Long, String)], dir: String,
                        cp: String): Unit = {
    val q = etl.DedupIngest.startNearDup(
      stream.toDF().toDF("doc_id", "text"), dir, cp,
      idCol = "doc_id", textCol = "text", threshold = 0.7,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }

  private def corpusIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet

  test("near-dup admission: cross-batch and in-batch keep-first") {
    val dir = Files.createTempDirectory("neardup-ingest").toString + "/corpus"
    val cp = Files.createTempDirectory("neardup-ingest-cp").toString
    val stream = MemoryStream[(Long, String)]

    // batch 1: base + its near-dup (keep-first drops id 1) + unrelated
    stream.addData((0L, base), (1L, nearDup), (2L, unrelated))
    drainNear(stream, dir, cp)
    assert(corpusIds(dir) == Set(0L, 2L))

    // batch 2: another near-dup of base (rejected vs corpus), an exact
    // dup of unrelated (Jaccard 1, rejected), and a genuinely new doc
    stream.addData((3L, base.replace("montana", "wyoming")),
      (4L, unrelated), (5L, base.split(' ').reverse.mkString(" ") + " xyz"))
    drainNear(stream, dir, cp)
    // id 5 shares base's SHINGLE VOCAB? no — reversed word order
    // changes every 3-shingle, so it must be admitted
    assert(corpusIds(dir) == Set(0L, 2L, 5L))

    // the band index only carries admitted docs
    val idx = spark.read.parquet(dir + "_bands")
    assert(idx.select("_c_id").distinct().as[Long].collect().toSet == Set(0L, 2L, 5L))
  }

  test("near-dup chain A~B~C admits {A, C}, invariant to batch boundaries") {
    // B (near-dup of A) and C (near-dup of B but NOT of A): under
    // SEQUENTIAL semantics B is rejected against A, and C's only
    // near-dup B never entered the corpus — so C is admitted. The
    // answer must be the SAME whether the three arrive in one
    // micro-batch or split across two. Controlled shingle overlap:
    // 30 distinct tokens, one edit at each end — J(A,B) = J(B,C) =
    // 27/29 ≈ 0.93, J(A,C) = 26/30 ≈ 0.87, so a 0.9 threshold makes
    // exactly a chain.
    val toks = (1 to 30).map(i => f"t$i%02d")
    val a = toks.mkString(" ")
    val bDoc = (toks.dropRight(1) :+ "zzz").mkString(" ")
    val cDoc = ("yyy" +: toks.slice(1, 29) :+ "zzz").mkString(" ")
    // precondition sanity on the fixture: the pair graph IS a chain
    import graft.ops.Dedup
    val pairs = Dedup.minhashNearDups(
      Seq((0L, a, "en", a.length.toLong), (1L, bDoc, "en", bDoc.length.toLong),
        (2L, cDoc, "en", cDoc.length.toLong)).toDF("doc_id", "text", "lang", "n_chars"),
      threshold = 0.9).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (1L, 2L)), s"fixture drifted: $pairs")

    def run(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
      val dir = Files.createTempDirectory("neardup-chain").toString + "/corpus"
      val cp = Files.createTempDirectory("neardup-chain-cp").toString
      val stream = MemoryStream[(Long, String)]
      batches.foreach { rows =>
        stream.addData(rows: _*)
        val q = etl.DedupIngest.startNearDup(
          stream.toDF().toDF("doc_id", "text"), dir, cp,
          idCol = "doc_id", textCol = "text", threshold = 0.9,
          trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      corpusIds(dir)
    }
    val oneBatch = run(Seq(Seq((0L, a), (1L, bDoc), (2L, cDoc))))
    val split = run(Seq(Seq((0L, a), (1L, bDoc)), Seq((2L, cDoc))))
    assert(oneBatch == Set(0L, 2L), s"sequential chain must admit {A, C}: $oneBatch")
    assert(split == oneBatch, "admission depended on micro-batch boundaries")
  }

  test("near-dup admission: crash between state writes and checkpoint replays clean") {
    val dir = Files.createTempDirectory("neardup-crash").toString + "/corpus"
    val cp = Files.createTempDirectory("neardup-crash-cp").toString
    val stream = MemoryStream[(Long, String)]

    // simulate batch 0 fully writing BOTH state stores, then crashing
    // before the streaming checkpoint commits
    etl.DedupIngest.admitBatchNearDup(spark,
      Seq((0L, base), (1L, nearDup), (2L, unrelated)).toDF("doc_id", "text"),
      dir, batchId = 0L, idCol = "doc_id", textCol = "text", threshold = 0.7)
    assert(corpusIds(dir) == Set(0L, 2L))

    // the stream replays the same rows as batch 0: the probe excludes
    // its own partition, recomputes the identical admission, and
    // overwrites its own partitions — no dupes, no loss
    stream.addData((0L, base), (1L, nearDup), (2L, unrelated))
    drainNear(stream, dir, cp)
    assert(corpusIds(dir) == Set(0L, 2L))
    assert(spark.read.parquet(dir).count() == 2, "replay duplicated corpus rows")
    // follow-up batch still dedups against the replayed state
    stream.addData((6L, base + " extra"), (7L, unrelated.toUpperCase))
    drainNear(stream, dir, cp)
    assert(corpusIds(dir) == Set(0L, 2L, 7L))
  }

  test("near-dup: a FRESH checkpoint over an existing corpus neither overwrites nor re-admits") {
    // batch ids restart at 0 under a new checkpoint; without the
    // run-scoped partition tag, the new batch 0 would exclude the old
    // batch 0 from its probe (re-admitting its near-dups) and then
    // dynamically OVERWRITE its partitions — silent data loss
    val dir = Files.createTempDirectory("neardup-fresh").toString + "/corpus"
    val cp1 = Files.createTempDirectory("neardup-fresh-cp1").toString
    val cp2 = Files.createTempDirectory("neardup-fresh-cp2").toString
    val s1 = MemoryStream[(Long, String)]
    s1.addData((0L, base), (1L, unrelated))
    val q1 = etl.DedupIngest.startNearDup(
      s1.toDF().toDF("doc_id", "text"), dir, cp1,
      idCol = "doc_id", textCol = "text", threshold = 0.7,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    assert(corpusIds(dir) == Set(0L, 1L))

    // run 2: NEW checkpoint, same corpus; its batch 0 carries a
    // near-dup of run 1's batch-0 doc plus a new doc
    val s2 = MemoryStream[(Long, String)]
    s2.addData((10L, nearDup), (11L, base.split(' ').reverse.mkString(" ") + " qqq"))
    val q2 = etl.DedupIngest.startNearDup(
      s2.toDF().toDF("doc_id", "text"), dir, cp2,
      idCol = "doc_id", textCol = "text", threshold = 0.7,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    val ids = corpusIds(dir)
    assert(ids == Set(0L, 1L, 11L),
      s"run 1's docs must survive and still block near-dups: $ids")
  }

  test("admission matches the batch operator across an arrival sequence") {
    // property: ingesting batches B1..Bn leaves exactly the rows that
    // exactKeepFirst over (corpus-so-far ∪ batch) admits step by step
    val rnd = new scala.util.Random(41)
    val dir = Files.createTempDirectory("dedup-prop").toString + "/corpus"
    val cp = Files.createTempDirectory("dedup-prop-cp").toString
    val stream = MemoryStream[(Long, String)]
    var id = 0L
    var expected = Map.empty[String, Long] // key → admitted doc_id
    for (_ <- 0 until 5) {
      val batch = (0 until 40).map { _ =>
        id += 1
        (id, s"k${rnd.nextInt(30)}")
      }
      // reference admission: first-in-batch by min id, unless present
      batch.groupBy(_._2).foreach { case (k, rows) =>
        if (!expected.contains(k)) expected += k -> rows.map(_._1).min
      }
      stream.addData(batch: _*)
      drain(stream, dir, cp)
    }
    val got = spark.read.parquet(dir).as[(Long, String)]
      .collect().map(r => r._2 -> r._1).toMap
    assert(got == expected)
  }

  // ---- EMBEDDING near-dup admission (banded sign-LSH) ---- //

  private val embRnd = new scala.util.Random(29)
  private def embVec(): Seq[Float] =
    Seq.fill(64)(embRnd.nextGaussian().toFloat)
  private def embDup(v: Seq[Float]): Seq[Float] =
    v.map(x => x + 0.1f * embRnd.nextGaussian().toFloat)

  /** Sequential greedy reference over EXACT cosine pairs: admit each
    * id (ascending == arrival order) iff no already-admitted neighbor
    * — the semantics admitBatchEmbedding must reproduce through its
    * banded probe + in-batch resolution. */
  private def embGreedyRef(rows: Seq[(Long, Seq[Float])],
                           threshold: Double): Set[Long] = {
    val pairs = graft.ops.Dedup.embeddingNearDups(
        rows.toDF("vec_id", "embedding")
          .withColumn("label", org.apache.spark.sql.functions.lit(0)),
        threshold)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val nbrs = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).toSet }
    val admitted = scala.collection.mutable.HashSet.empty[Long]
    rows.map(_._1).sorted.foreach { id =>
      if (!nbrs.getOrElse(id, Set.empty).exists(admitted)) admitted += id
    }
    admitted.toSet
  }

  test("embedding admission: parity with the sequential greedy reference, invariant to batch split") {
    val bases = (0L until 30L).map(i =>
      (if (i < 15) i else 85L + i, embVec())) // ids 0-14, 100-114
    val b1 = bases.take(15) ++ Seq((50L, embDup(bases(0)._2)),
      (51L, embDup(bases(3)._2)))
    val b2 = bases.drop(15) ++ Seq((150L, embDup(bases(1)._2)),
      (151L, embDup(bases(5)._2)), (152L, embDup(bases(15)._2)))
    val b3 = Seq((200L, embDup(bases(2)._2)), (201L, embDup(bases(20)._2)))
    val all = b1 ++ b2 ++ b3
    val want = embGreedyRef(all, 0.9)
    // dups must actually be near-dups and bases mutually unrelated
    assert(want == bases.map(_._1).toSet, s"fixture drifted: $want")

    def run(batches: Seq[Seq[(Long, Seq[Float])]]): Set[Long] = {
      val dir = Files.createTempDirectory("embdup").toString + "/corpus"
      val cp = Files.createTempDirectory("embdup-cp").toString
      val stream = MemoryStream[(Long, Seq[Float])]
      batches.foreach { rows =>
        stream.addData(rows: _*)
        val q = DedupIngest.startEmbeddingDedup(
          stream.toDF().toDF("vec_id", "embedding"), dir, cp,
          threshold = 0.9, trigger = Trigger.AvailableNow())
        q.awaitTermination()
      }
      spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    }
    val split3 = run(Seq(b1, b2, b3))
    assert(split3 == want, s"streamed admission diverged from reference: " +
      s"extra=${split3 -- want} missing=${want -- split3}")
    val oneBatch = run(Seq(all))
    assert(oneBatch == want, "single-batch admission depended on the split")
  }

  test("embedding admission: replay of a batch id recomputes identically, no dup/loss") {
    val dir = Files.createTempDirectory("embdup-replay").toString + "/corpus"
    val v0 = embVec(); val v1 = embVec(); val v2 = embVec()
    def admit(rows: Seq[(Long, Seq[Float])], id: Long): Long =
      DedupIngest.admitBatchEmbedding(spark,
        rows.toDF("vec_id", "embedding"), dir, batchId = id,
        threshold = 0.9, runTag = "t")
    assert(admit(Seq((0L, v0), (1L, v1)), 0L) == 2L)
    val b1 = Seq((10L, embDup(v0)), (11L, v2))
    assert(admit(b1, 1L) == 1L, "dup of v0 must be rejected")
    // crash-replay: same batch id, same data — identical outcome,
    // corpus unchanged (partition overwrite, probe excludes own)
    assert(admit(b1, 1L) == 1L)
    val ids = spark.read.parquet(dir).select("vec_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(0L, 1L, 11L), s"replay corrupted corpus: $ids")
  }

  test("embedding admission: a corpus partition missing from the band index is rebuilt") {
    // the crash shape the repair exists for: the corpus partition
    // commits, the _sbands partition does not, and the run restarts
    // under a FRESH checkpoint so the batch is never replayed — the
    // admitted vectors would be permanently invisible to the probe and
    // their near-dups silently re-admitted
    val root = Files.createTempDirectory("embdup-repair").toString
    val dir = root + "/corpus"
    val v0 = embVec(); val v1 = embVec()
    def admit(rows: Seq[(Long, Seq[Float])], id: Long, tag: String): Long =
      DedupIngest.admitBatchEmbedding(spark,
        rows.toDF("vec_id", "embedding"), dir, batchId = id,
        threshold = 0.9, runTag = tag)
    assert(admit(Seq((0L, v0)), 0L, "run1") == 1L)
    assert(admit(Seq((1L, v1)), 1L, "run1") == 1L)
    // simulate the torn commit: drop batch 1's band-index partition
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(
      dir + "_sbands/_ingest_batch=run1-1")
    assert(fs.exists(torn), "fixture drifted: expected sbands partition")
    fs.delete(torn, true)
    // fresh run tag (fresh checkpoint), near-dup of the now-unindexed
    // v1: WITHOUT repair this would be admitted; the rebuilt index
    // must reject it — and an honest new vector still gets through
    assert(admit(Seq((10L, embDup(v1)), (11L, embVec())), 0L, "run2") == 1L)
    val ids = spark.read.parquet(dir).select("vec_id").as[Long]
      .collect().toSeq.sorted
    assert(ids == Seq(0L, 1L, 11L), s"repair failed, corpus: $ids")
    // the repaired partition is back on disk for the next probe
    assert(fs.exists(torn), "repair did not rewrite the missing partition")
  }

  test("embedding admission: zero-norm vectors admitted, never candidates") {
    val dir = Files.createTempDirectory("embdup-zero").toString + "/corpus"
    val zero = Seq.fill(64)(0.0f)
    def admit(rows: Seq[(Long, Seq[Float])], id: Long): Long =
      DedupIngest.admitBatchEmbedding(spark,
        rows.toDF("vec_id", "embedding"), dir, batchId = id,
        threshold = 0.9, runTag = "t")
    // two zero vectors in one batch: cosine undefined ⇒ both admitted
    assert(admit(Seq((0L, zero), (1L, zero), (2L, embVec())), 0L) == 3L)
    // a later zero vector is still never a candidate
    assert(admit(Seq((10L, zero)), 1L) == 1L)
  }
}
