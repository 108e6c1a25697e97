package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.ops.Cdc

/** Streaming CDC snapshot maintenance (Cdc.streamSnapshot): changelog
  * micro-batches merged into a bucket-partitioned parquet snapshot —
  * correctness across batches, delete semantics, bucket-local
  * rewrites, and idempotent replay.
  */
class CdcStreamSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def runBatches(batches: Seq[Seq[(Long, Long, String, Double)]],
                         path: String, cp: String, nBuckets: Int): Unit = {
    implicit val ctx = spark.sqlContext
    // one source across query restarts: each AvailableNow run drains
    // what arrived since the last committed offset in the checkpoint
    val ms = MemoryStream[(Long, Long, String, Double)]
    batches.foreach { rows =>
      ms.addData(rows: _*)
      val q = Cdc.streamSnapshot(
        ms.toDF.toDF("key", "seq", "op", "v"),
        path, cp, col("key"), col("seq"), col("op"), "D",
        Seq("v" -> col("v")), nBuckets).start()
      q.awaitTermination()
    }
  }

  test("changelog stream maintains the latest-wins snapshot across batches") {
    val dir = Files.createTempDirectory("cdcsnap").toString
    val (path, cp) = (s"$dir/snap", s"$dir/cp")
    runBatches(Seq(
      Seq((1L, 1L, "U", 10.0), (2L, 1L, "U", 20.0), (3L, 1L, "D", 0.0)),
      Seq((1L, 2L, "D", 0.0), (2L, 2L, "U", 25.0), (4L, 1L, "U", 40.0))
    ), path, cp, nBuckets = 16)
    val snap = Cdc.snapshot(spark, path)
      .select("k", "last_seq", "v").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(snap.toSeq === Seq((2L, 2L, 25.0), (4L, 1L, 40.0)))
  }

  test("micro-batch merge rewrites only the buckets holding changed keys") {
    val dir = Files.createTempDirectory("cdcsnap2").toString
    val path = s"$dir/snap"
    val nB = 16
    def bucket(k: Long): Int =
      Seq(k).toDF("k").select(pmod(hash(col("k")), lit(nB))).head().getInt(0)
    // key 100 lands in a different bucket than keys 200/300 (Murmur3 is
    // fixed — assert the precondition so a fixture change is loud)
    assume(bucket(100L) != bucket(200L) && bucket(100L) != bucket(300L))

    def merge(rows: Seq[(Long, Long, String, Double)]): Unit =
      Cdc.mergeBatch(rows.toDF("key", "seq", "op", "v"), path,
        col("key"), col("seq"), col("op"), "D", Seq("v" -> col("v")), nB)

    merge(Seq((100L, 1L, "U", 1.0), (200L, 1L, "U", 2.0)))
    val f100 = s"$path/_bucket=${bucket(100L)}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def sig(p: String): Seq[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(s => (s.getPath.getName, s.getModificationTime)).toSeq.sorted
    val before = sig(f100)

    merge(Seq((200L, 2L, "U", 2.5), (300L, 1L, "U", 3.0)))
    assert(sig(f100) === before, "untouched bucket must not be rewritten")
    val snap = Cdc.snapshot(spark, path)
      .select("k", "v").as[(Long, Double)].collect().sortBy(_._1)
    assert(snap.toSeq === Seq((100L, 1.0), (200L, 2.5), (300L, 3.0)))
  }

  test("merge replay is idempotent (crash-replay of a micro-batch is safe)") {
    val dir = Files.createTempDirectory("cdcsnap3").toString
    val path = s"$dir/snap"
    def merge(): Unit = Cdc.mergeBatch(
      Seq((1L, 1L, "U", 10.0), (2L, 5L, "D", 0.0)).toDF("key", "seq", "op", "v"),
      path, col("key"), col("seq"), col("op"), "D", Seq("v" -> col("v")), 8)
    merge(); merge()
    val snap = Cdc.snapshot(spark, path)
      .select("k", "last_seq", "v").as[(Long, Long, Double)].collect()
    assert(snap.toSeq === Seq((1L, 1L, 10.0)))
  }

  test("crash between the swap renames: the parked bucket is restored, no key loss") {
    val dir = Files.createTempDirectory("cdcsnap5").toString
    val path = s"$dir/snap"
    val nB = 8
    def merge(rows: Seq[(Long, Long, String, Double)]): Unit =
      Cdc.mergeBatch(rows.toDF("key", "seq", "op", "v"), path,
        col("key"), col("seq"), col("op"), "D", Seq("v" -> col("v")), nB)
    def bucket(k: Long): Int =
      Seq(k).toDF("k").select(pmod(hash(col("k")), lit(nB))).head().getInt(0)
    assume(bucket(1L) != bucket(2L), "fixture keys must hash to different buckets")

    merge(Seq((1L, 1L, "U", 10.0), (2L, 1L, "U", 20.0)))
    // crash injection: a previous run parked key 1's bucket (first swap
    // rename done) and died before promoting the fresh copy — the live
    // dir is gone, only its parked twin remains
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$path/_bucket=${bucket(1L)}")
    val staleRoot = graft.io.Commit.park(live)
    assert(fs.rename(live, staleRoot))
    assert(!fs.exists(live))

    // the next merge (touching a DIFFERENT key) must first repair:
    // restore the parked bucket so key 1 does not silently vanish
    merge(Seq((2L, 2L, "U", 25.0)))
    val snap = Cdc.snapshot(spark, path)
      .select("k", "v").as[(Long, Double)].collect().sortBy(_._1)
    assert(snap.toSeq === Seq((1L, 10.0), (2L, 25.0)))
    assert(!fs.exists(staleRoot), "repair must clear the parking lot")

    // other crash window: promote done, parked copy left behind — the
    // repair pass must PREFER the live (newer) bucket and just clean up
    val live2 = new org.apache.hadoop.fs.Path(s"$path/_bucket=${bucket(2L)}")
    val staleRoot2 = graft.io.Commit.park(live2)
    fs.mkdirs(staleRoot2)
    assert(fs.exists(live2))
    merge(Seq((1L, 2L, "U", 11.0)))
    val snap2 = Cdc.snapshot(spark, path)
      .select("k", "v").as[(Long, Double)].collect().sortBy(_._1)
    assert(snap2.toSeq === Seq((1L, 11.0), (2L, 25.0)),
      "stale leftover must not clobber the promoted bucket")
    assert(!fs.exists(staleRoot2))
  }

  test("a delete-only batch can empty the snapshot without breaking reads") {
    val dir = Files.createTempDirectory("cdcsnap4").toString
    val path = s"$dir/snap"
    def merge(rows: Seq[(Long, Long, String, Double)]): Unit =
      Cdc.mergeBatch(rows.toDF("key", "seq", "op", "v"), path,
        col("key"), col("seq"), col("op"), "D", Seq("v" -> col("v")), 4)
    merge(Seq((1L, 1L, "U", 10.0)))
    merge(Seq((1L, 2L, "D", 0.0)))
    // snapshot now has no bucket dirs; the next merge must still work
    merge(Seq((2L, 3L, "U", 20.0)))
    val snap = Cdc.snapshot(spark, path).select("k").as[Long].collect()
    assert(snap.toSeq === Seq(2L))
  }

  test("an empty batch leaves the snapshot untouched and no stage behind") {
    val dir = Files.createTempDirectory("cdcsnap6").toString
    val path = s"$dir/snap"
    def merge(rows: Seq[(Long, Long, String, Double)]): Unit =
      Cdc.mergeBatch(rows.toDF("key", "seq", "op", "v"), path,
        col("key"), col("seq"), col("op"), "D", Seq("v" -> col("v")), 4)
    merge(Seq((1L, 1L, "U", 10.0), (2L, 1L, "U", 20.0)))
    // every file under the snapshot's parent, stage siblings included
    def files(): Seq[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        (root.relativize(f).toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis)).toSeq.sorted
      finally walk.close()
    }
    val before = files()
    assert(before.exists(_._1.endsWith(".parquet")))
    merge(Nil)
    val after = files()
    assert(after === before)
    assert(!after.exists(_._1.contains(".tmp")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, ".snap.tmp")))
    assert(Cdc.snapshot(spark, path).count() === 2L)
  }
}
