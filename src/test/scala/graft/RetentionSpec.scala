package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.Similarity
import graft.etl.{DedupIngest, IndexIngest}

/** Time-based retention for the persisted index families
  * (r13 VERDICT #4) and the streaming retraction pipeline
  * (r13 VERDICT #5), plus the tombstone torn-swap heal (r13 ADVICE).
  * Pins: an expired segment's vectors stop appearing in probes while
  * kept segments are untouched; an id shared with a kept segment is
  * retained wholesale; unknown-age segments never expire; re-running
  * the same cutoff is idempotent; compaction purges what retention
  * tombstoned and the watermark survives the swap; describeIndex
  * exposes ingest stamps and the watermark; the composed
  * insert+delete streams stay exactly-once under crash-replay with a
  * zero-leak probe through the pipeline's own index.
  */
class RetentionSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private implicit def ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val rnd = new scala.util.Random(17)
  private def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
  private def vecs(ids: Range): Seq[(Long, Array[Float])] =
    ids.map(i => (i.toLong, vec()))

  private def probeIds(dir: String, q: org.apache.spark.sql.DataFrame,
                       k: Int = 60): Set[Long] =
    Similarity.binaryIndexedTopK(spark, dir, q, k = k, rerank = 400)
      .select(col("c_id")).as[Long].collect().toSet

  test("retainIndex: expired segments shadowed, kept live, watermark recorded, rerun idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft-retain").toString
    val dir = s"$root/bin"
    val base = vecs(0 until 20); val segA = vecs(20 until 40)
    val segB = vecs(40 until 60)
    Similarity.buildBinaryIndex(base.toDF("vec_id", "embedding"), dir)
    Similarity.appendToBinaryIndex(spark, dir,
      segA.toDF("vec_id", "embedding"), seg = Some("t-0"))
    Similarity.appendToBinaryIndex(spark, dir,
      segB.toDF("vec_id", "embedding"), seg = Some("t-1"))
    // deterministic ages (appends stamp wall-clock; pin them)
    Similarity.stampSegMeta(spark, dir, "base", 1000L)
    Similarity.stampSegMeta(spark, dir, "t-0", 2000L)
    Similarity.stampSegMeta(spark, dir, "t-1", 3000L)
    val q = Seq((999L, base.head._2)).toDF("vec_id", "embedding")
    assert(probeIds(dir, q) == (0L until 60L).toSet, "fixture drifted")

    val n = Similarity.retainIndex(spark, dir, cutoffMs = 2500L)
    assert(n == 40L, s"expected base+t-0's 40 ids tombstoned, got $n")
    assert(probeIds(dir, q) == (40L until 60L).toSet,
      "expired ids leaked into the probe (or kept ids were dropped)")
    // watermark + stamps on the observability surface
    val d = Similarity.describeIndex(spark, dir).collect()
    assert(d.forall(_.getAs[Long]("retention_watermark") == 2500L))
    assert(d.map(r => r.getAs[String]("seg") -> r.getAs[Long]("ingest_ts"))
      .toMap == Map("base" -> 1000L, "t-0" -> 2000L, "t-1" -> 3000L))
    // idempotent rerun: same cutoff overwrites its own tombstone
    // partition, probe unchanged
    Similarity.retainIndex(spark, dir, cutoffMs = 2500L)
    assert(probeIds(dir, q) == (40L until 60L).toSet)
    // a LOWER cutoff later never rolls the watermark back
    Similarity.retainIndex(spark, dir, cutoffMs = 1500L)
    assert(Similarity.describeIndex(spark, dir).collect()
      .forall(_.getAs[Long]("retention_watermark") == 2500L))
  }

  test("retainIndex: id shared with a kept segment is retained wholesale; unknown-age kept") {
    val root = java.nio.file.Files.createTempDirectory("graft-retain2").toString
    val dir = s"$root/bin"
    val old = vecs(0 until 10)
    Similarity.buildBinaryIndex(old.toDF("vec_id", "embedding"), dir)
    // id 0 re-ingested in a young segment; id 5 in an UNSTAMPED one
    Similarity.appendToBinaryIndex(spark, dir,
      Seq((0L, old.head._2)).toDF("vec_id", "embedding"), seg = Some("t-0"))
    Similarity.appendToBinaryIndex(spark, dir,
      Seq((100L, vec())).toDF("vec_id", "embedding"), seg = Some("t-1"))
    Similarity.stampSegMeta(spark, dir, "base", 1000L)
    Similarity.stampSegMeta(spark, dir, "t-0", 3000L)
    // t-1 loses its stamp: unknown age must mean KEPT, never expired
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "_segmeta/t-1"), false)
    val n = Similarity.retainIndex(spark, dir, cutoffMs = 2000L)
    assert(n == 9L, s"only base's unshared ids expire, got $n")
    val got = probeIds(dir,
      Seq((999L, old.head._2)).toDF("vec_id", "embedding"), k = 20)
    assert(got == Set(0L, 100L),
      s"shared id 0 and unknown-age id 100 must survive, got $got")
  }

  test("retainIndex + compaction: physical purge, watermark and folded stamps survive the swap") {
    val root = java.nio.file.Files.createTempDirectory("graft-retain3").toString
    val dir = s"$root/bin"
    Similarity.buildBinaryIndex(vecs(0 until 20).toDF("vec_id", "embedding"), dir)
    Similarity.appendToBinaryIndex(spark, dir,
      vecs(20 until 30).toDF("vec_id", "embedding"), seg = Some("t-0"))
    Similarity.stampSegMeta(spark, dir, "base", 1000L)
    Similarity.stampSegMeta(spark, dir, "t-0", 5000L)
    assert(Similarity.retainIndex(spark, dir, 2000L) == 20L)
    Similarity.compactBinaryIndex(spark, dir)
    // rows physically gone, tombstones cleared, watermark intact
    assert(spark.read.parquet(dir).select("c_id").as[Long].collect()
      .toSet == (20L until 30L).toSet, "compaction did not purge expired rows")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_tombstones")),
      "tombstones should clear once fully purged")
    val d = Similarity.describeIndex(spark, dir).collect()
    assert(d.map(_.getAs[String]("seg")).toSeq == Seq("base"))
    assert(d.head.getAs[Long]("retention_watermark") == 2000L)
    // folded stamp = max of fold sources (conservative: never lets a
    // later cutoff expire folded rows younger than their stamp)
    assert(d.head.getAs[Long]("ingest_ts") == 5000L)
  }

  test("retainIndex: IVF-PQ family cuts by segment age through the same machinery") {
    val root = java.nio.file.Files.createTempDirectory("graft-retain4").toString
    val dir = s"$root/ivfpq"
    val old = vecs(0 until 40); val young = vecs(40 until 60)
    Similarity.buildIvfPqIndex(old.toDF("vec_id", "embedding"), dir,
      nlist = 4, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(spark, dir,
      young.toDF("vec_id", "embedding"), seg = Some("t-0"))
    Similarity.stampSegMeta(spark, dir, "base", 1000L)
    Similarity.stampSegMeta(spark, dir, "t-0", 3000L)
    assert(Similarity.retainIndex(spark, dir, 2000L) == 40L)
    val got = Similarity.ivfPqIndexedTopK(spark, dir,
      Seq((999L, old.head._2)).toDF("vec_id", "embedding"), k = 30,
      nprobe = 4, rerank = 200).select("c_id").as[Long].collect().toSet
    assert(got == (40L until 60L).toSet,
      s"expired base ids leaked (or young ids dropped): $got")
    Similarity.compactIndex(spark, dir)
    assert(spark.read.parquet(dir).select("c_id").as[Long].collect()
      .toSet == (40L until 60L).toSet)
  }

  test("refitIvfPqIndex folds segment stamps into base and leaves no stage sidecar") {
    val root = java.nio.file.Files.createTempDirectory("graft-refit-meta").toString
    val dir = s"$root/ivfpq"
    Similarity.buildIvfPqIndex(vecs(0 until 40).toDF("vec_id", "embedding"), dir,
      nlist = 4, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(spark, dir,
      vecs(40 until 60).toDF("vec_id", "embedding"), seg = Some("s1"))
    Similarity.stampSegMeta(spark, dir, "base", 1000L)
    Similarity.stampSegMeta(spark, dir, "s1", 3000L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageMeta = new org.apache.hadoop.fs.Path(
      graft.io.Commit.stage(new org.apache.hadoop.fs.Path(dir)).toString + "_segmeta")
    // a crashed refit's stage sidecar must not survive the next one
    fs.create(new org.apache.hadoop.fs.Path(stageMeta, "stale")).close()
    Similarity.refitIvfPqIndex(spark, dir, nlist = 4, m = 8, ksub = 16)
    assert(!fs.exists(stageMeta), s"stage sidecar left behind: $stageMeta")
    assert(Similarity.segmentNames(spark, dir) == Seq("base"))
    // the folded stamp is the max of the fold sources, as compaction's
    assert(Similarity.readSegMeta(spark, dir) == Map("base" -> 3000L))
    assert(spark.read.parquet(dir).select("c_id").as[Long].collect().toSet ==
      (0L until 60L).toSet)
  }

  test("tombstone torn swap heals: .old rolls back when live is absent, clears when live exists") {
    val root = java.nio.file.Files.createTempDirectory("graft-heal").toString
    val dir = s"$root/bin"
    val rows = vecs(0 until 10)
    Similarity.buildBinaryIndex(rows.toDF("vec_id", "embedding"), dir)
    Similarity.deleteFromIndex(spark, dir, Seq(3L).toDF("vec_id"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val td = new org.apache.hadoop.fs.Path(dir + "_tombstones")
    val old = graft.io.Commit.park(td)
    // the shrink crash window: sidecar moved aside, replacement absent
    assert(fs.rename(td, old), "fixture: could not stage the torn state")
    val q = Seq((999L, rows(3)._2)).toDF("vec_id", "embedding")
    val got = probeIds(dir, q, k = 9)
    assert(!got.contains(3L),
      "torn tombstone swap resurrected a deleted row")
    // the heal rolled the tree back in — the torn state is gone
    assert(fs.exists(td) && !fs.exists(old))
    // both-present (shrink completed, .old leftover): live wins and
    // the leftover clears before any new delete can diverge from it
    fs.mkdirs(new org.apache.hadoop.fs.Path(old, "seg=ghost"))
    Similarity.deleteFromIndex(spark, dir, Seq(4L).toDF("vec_id"))
    assert(!fs.exists(old), "completed shrink's leftover .old must clear")
    assert(!probeIds(dir, q, k = 8).exists(Set(3L, 4L)))
  }

  test("streaming retraction end-to-end: interleaved insert+delete batches, crash-replay, zero leak") {
    val root = java.nio.file.Files.createTempDirectory("graft-sretr").toString
    val corpusDir = s"$root/corpus"; val indexDir = s"$root/idx"
    val insCp = s"$root/ins-cp"; val delCp = s"$root/del-cp"
    val seed = vecs(0 until 20)
    IndexIngest.bootstrapDedupedBinary(
      seed.toDF("vec_id", "embedding"), corpusDir, indexDir)
    def insert(rows: Seq[(Long, Array[Float])], batchId: Long): Unit =
      IndexIngest.dedupedBinaryAppendBatch(rows.toDF("vec_id", "embedding"),
        corpusDir, indexDir, insCp, batchId = batchId)
    def retractStream(stream: MemoryStream[Long]): Unit = {
      val q = IndexIngest.startDedupedRetraction(
        stream.toDF().toDF("vec_id"), corpusDir, indexDir, delCp,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    // insert batch 0, then retract two seed ids and one batch-0 id
    val b0 = vecs(100 until 110)
    insert(b0, 0L)
    val stream = MemoryStream[Long]
    stream.addData(3L, 7L, 105L)
    retractStream(stream)
    val q3 = Seq((999L, seed(3)._2)).toDF("vec_id", "embedding")
    val live = (0L until 20L).toSet ++ (100L until 110L).toSet -- Set(3L, 7L, 105L)
    assert(probeIds(indexDir, q3, k = 30) == live,
      "retracted ids leaked through the composed index probe")
    assert(spark.read.parquet(corpusDir).select("vec_id").as[Long]
      .collect().toSet == live, "retraction left corpus rows behind")
    // crash-replay of the delete batch: same checkpoint tag + batch id
    // through the same verbs — must be a no-op (set-op retraction,
    // tombstone partition overwrites itself)
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(delCp.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    DedupIngest.retractNearDup(spark, corpusDir,
      Seq(3L, 7L, 105L).toDF("vec_id"), "vec_id", bandsSuffix = "_sbands")
    Similarity.deleteFromIndex(spark, indexDir,
      Seq(3L, 7L, 105L).toDF("vec_id"), seg = Some(s"del-$tag-0"))
    assert(probeIds(indexDir, q3, k = 30) == live, "replayed delete drifted")
    // a near-dup of a RETRACTED vector re-admits (the takedown freed
    // its band postings) and serves from the index after its insert
    val reAdmit = Seq((200L, seed(3)._2.map(x => x + 0.01f)))
    insert(reAdmit, 1L)
    assert(spark.read.parquet(corpusDir)
      .filter(col("vec_id") === 200L).count() == 1L,
      "near-dup of a retracted vector must re-admit")
    assert(probeIds(indexDir, q3, k = 30).contains(200L))
    // and a near-dup of a LIVE vector still rejects
    insert(Seq((201L, seed(5)._2.map(x => x + 0.01f))), 2L)
    assert(spark.read.parquet(corpusDir)
      .filter(col("vec_id") === 201L).count() == 0L,
      "admission gate broke after retraction")
  }
}
