package graft

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bloom, BloomMightContainExpr}

class BloomSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("bloom has no false negatives and a sane false-positive rate") {
    val members = (0L until 5000L).map(i => i * 2654435761L)
    val filter = spark.sparkContext.broadcast(
      Bloom.build(members.toDF("h"), "h", members.size, fpp = 0.01))

    val probed = (0L until 20000L).map(i => i * 2654435761L)
      .toDF("h")
      .withColumn("hit", Bloom.mightContain(filter, col("h")))
      .as[(Long, Boolean)].collect().toMap
    members.foreach(m => assert(probed(m), s"false negative on $m"))
    val fps = probed.count { case (h, hit) => hit && !members.contains(h) }
    // 15000 non-members at 1% target: allow generous slack
    assert(fps < 600, s"false-positive rate too high: $fps / 15000")
  }

  test("bloom probe survives whole-stage codegen and interpreted eval") {
    val filter = spark.sparkContext.broadcast(Bloom.build(Seq(7L, 11L).toDF("h"), "h", 2))
    val df = Seq(7L, 8L, 11L).toDF("h")
      .withColumn("hit", Bloom.mightContain(filter, col("h")))
    // codegen path
    assert(df.filter(col("hit")).count() >= 2)
    // interpreted path (collect evaluates the projection too)
    val hits = df.as[(Long, Boolean)].collect().filter(_._2).map(_._1).toSet
    assert(hits.contains(7L) && hits.contains(11L))
  }

  test("a serialized probe stays small whatever the filter's size") {
    val big = BloomFilter.create(10000000L, 0.01)
    big.putLong(42L)
    val filter = spark.sparkContext.broadcast(big)
    try {
      val ser = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
        .newInstance()
      val buf = ser.serialize(BloomMightContainExpr(filter, BoundReference(0, LongType, false)))
      assert(buf.limit() < 64 * 1024,
        s"probe serializes to ${buf.limit()} bytes for a ${big.bitSize() / 8}-byte filter")
      // the round-tripped probe still reaches the filter
      assert(ser.deserialize[BloomMightContainExpr](buf).probe(42L))
    } finally filter.destroy()
  }

  test("bloom-prefiltered decontamination matches the exact plan") {
    val mk = (id: Long, src: String, text: String) => (id, src, text)
    val contaminated = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      mk(0L, "src0", contaminated), // held-out benchmark doc
      mk(1L, "src1", "prefix words " + contaminated + " suffix words"),
      mk(2L, "src1", "totally different content nothing shared here at all ok"),
      mk(3L, "src2", "alpha beta gamma delta four gram only not five here"),
      mk(4L, "src2", "short doc")
    ).toDF("doc_id", "source", "text")

    def run(name: String) = {
      val dir = java.nio.file.Files
        .createTempDirectory("bloomspec").toString
      docs.write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      SparkEntry.queries(name)(spark, dir)
        .select("doc_id").as[Long].collect().toSet
    }
    val exact = run("ext_decontaminate")
    val bloom = run("ext_decontaminate_bloom")
    assert(exact == bloom, s"exact=$exact bloom=$bloom")
    assert(!bloom.contains(1L), "doc sharing a 5-gram must be dropped")
    assert(bloom == Set(2L, 3L, 4L))
  }

  test("incremental dedup == naive batch-anti-join-corpus plan") {
    import graft.ops.Dedup
    val corpus = Seq((0L, "seen before"), (2L, "also seen"), (4L, "old news"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before"),  // dup of corpus → dropped
      (3L, "brand new"),    // new → admitted
      (5L, "brand new"),    // within-batch dup of 3 → dropped
      (7L, "also seen"),    // dup of corpus → dropped
      (9L, "another fresh") // new → admitted
    ).toDF("doc_id", "text")

    val admitted = Dedup.incrementalExact(corpus, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(3L, 9L))

    // parity with the naive plan on a larger random corpus
    val rnd = new scala.util.Random(7)
    val corpusBig = (0L until 500L).map(i => (i, s"doc ${rnd.nextInt(300)}"))
      .toDF("doc_id", "text")
    val batchBig = (500L until 800L).map(i => (i, s"doc ${rnd.nextInt(400)}"))
      .toDF("doc_id", "text")
    val inc = Dedup.incrementalExact(corpusBig, batchBig, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val naive = Dedup.exactKeepFirst(batchBig, Seq("text"), "doc_id")
      .join(corpusBig.select("text").distinct(), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(inc == naive, s"inc diff: ${inc.diff(naive)} / ${naive.diff(inc)}")
  }
}
