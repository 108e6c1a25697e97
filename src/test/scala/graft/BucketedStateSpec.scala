package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.DedupIngest

/** The bucketed state-store layout (r13 VERDICT #1): `_sbands` /
  * `_fps` as external catalog tables CLUSTERED BY their join keys so
  * the per-trigger probe join stops re-shuffling the growing stored
  * side. Pins (a) the no-Exchange-on-the-stored-side physical plan —
  * the weak mark's done-condition, (b) admission-decision equivalence
  * with the path layout, (c) exactly-once replay and catalog-loss
  * recovery (the in-memory catalog dies with the session; the state
  * must not), (d) the state-meta contract (mismatched probe params
  * refuse loudly instead of silently admitting everything), and
  * (e) [[DedupIngest.rebandCorpus]] — the maintenance verb for a
  * corpus that outgrew its banding.
  */
class BucketedStateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(31)
  private def vec(): Seq[Float] = Seq.fill(64)(rnd.nextGaussian().toFloat)
  private def dup(v: Seq[Float]): Seq[Float] =
    v.map(x => x + 0.1f * rnd.nextGaussian().toFloat)

  /** Scope a conf key around `body`, restoring the prior value. */
  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("bucketed embedding admission matches legacy decisions; replay exactly-once") {
    val root = Files.createTempDirectory("bstate-emb").toString
    val legacy = s"$root/legacy"; val bucketed = s"$root/bucketed"
    val v = (0 until 8).map(_ => vec())
    val batches = Seq(
      Seq((0L, v(0)), (1L, v(1)), (2L, dup(v(0)))), // 2 rejected in-batch
      Seq((10L, dup(v(1))), (11L, v(2))),           // 10 rejected vs corpus
      Seq((20L, v(3)), (21L, dup(v(3))), (22L, dup(v(2)))))
    def run(dir: String, buckets: Int): Set[Long] = {
      batches.zipWithIndex.foreach { case (rows, i) =>
        DedupIngest.admitBatchEmbedding(spark,
          rows.toDF("vec_id", "embedding"), dir, batchId = i.toLong,
          threshold = 0.9, runTag = "t", stateBuckets = buckets)
      }
      spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    }
    val want = run(legacy, 0)
    assert(want == Set(0L, 1L, 11L, 20L), s"legacy fixture drifted: $want")
    assert(run(bucketed, 8) == want, "bucketed admission diverged from legacy")
    // crash-replay of the last batch: identical outcome, corpus unchanged
    DedupIngest.admitBatchEmbedding(spark,
      batches(2).toDF("vec_id", "embedding"), bucketed, batchId = 2L,
      threshold = 0.9, runTag = "t", stateBuckets = 8)
    assert(spark.read.parquet(bucketed).select("vec_id").as[Long]
      .collect().toSet == want, "replay corrupted the bucketed corpus")
    // the postings store is the bucketed table, not loose files: the
    // registered table reads back every posting with bucket naming
    val tbl = DedupIngest.stateTableName(bucketed + "_sbands")
    assert(spark.catalog.tableExists(tbl))
    assert(spark.table(tbl).select("_c_id").distinct().as[Long]
      .collect().toSet == want)
  }

  test("bucketed probe join: zero Exchange and zero Sort on the stored side") {
    val root = Files.createTempDirectory("bstate-plan").toString
    val dir = s"$root/corpus"
    DedupIngest.admitBatchEmbedding(spark,
      (0L until 50L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      dir, batchId = 0L, threshold = 0.9, runTag = "t", stateBuckets = 8)
    // the probe frame EXACTLY as admission builds it
    import graft.functions.VectorFunctions.{normD, signBands}
    val planes = graft.ops.Similarity.hyperplanes(32, 64, 42L)
    val probe = (100L until 120L).map(i => (i, vec()))
      .toDF("vec_id", "embedding")
      .withColumn("_nrm", normD(col("embedding")))
      .withColumn("_sig", signBands(col("embedding"), planes))
      .filter(col("_nrm") > 0)
      .select(col("vec_id"), col("embedding"), col("_nrm"),
        explode(DedupIngest.bandKeyArray(col("_sig"), 8, 4)).as("_bkey"))
    val idx = spark.table(DedupIngest.stateTableName(dir + "_sbands"))
      .filter(col("_ingest_batch").cast("string") =!= "t-1")
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val dups = DedupIngest.corpusProbeDups(probe, idx,
        "vec_id", "embedding", 0.9, bucketed = true)
      val plan = dups.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"stored side not read bucketed:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        s"probe join is not hash-built from the batch side:\n$plan")
      // exactly 2 exchanges: the batch side into the bucket layout +
      // the final distinct. A third would be the stored side
      // re-shuffling — the r13 weak mark this layout removes.
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 2, s"expected 2 exchanges (batch side + " +
        s"distinct), got $exchanges:\n$plan")
      // control: the SAME join over the path-layout read DOES exchange
      // the stored side (3 exchanges) — the claim is relative, not
      // an artifact of the fixture
      val legacyIdx = spark.read.parquet(dir + "_sbands")
        .filter(col("_ingest_batch").cast("string") =!= "t-1")
      val legacyPlan = DedupIngest.corpusProbeDups(probe, legacyIdx,
        "vec_id", "embedding", 0.9, bucketed = false)
        .queryExecution.executedPlan.toString
      val legacyExchanges = "Exchange".r.findAllIn(legacyPlan).size
      assert(legacyExchanges == 3,
        s"control drifted — path layout should shuffle the stored " +
          s"side ($legacyExchanges exchanges):\n$legacyPlan")
    }
  }

  test("catalog loss: a fresh catalog re-registers the table over the surviving state") {
    val root = Files.createTempDirectory("bstate-cat").toString
    val dir = s"$root/corpus"
    val v0 = vec()
    DedupIngest.admitBatchEmbedding(spark,
      Seq((0L, v0)).toDF("vec_id", "embedding"), dir, batchId = 0L,
      threshold = 0.9, runTag = "t", stateBuckets = 4)
    // simulate session loss: the in-memory catalog forgets the table,
    // the parquet state and the meta sidecar survive
    spark.sql(s"DROP TABLE `${DedupIngest.stateTableName(dir + "_sbands")}`")
    val n = DedupIngest.admitBatchEmbedding(spark,
      Seq((1L, dup(v0)), (2L, vec())).toDF("vec_id", "embedding"), dir,
      batchId = 1L, threshold = 0.9, runTag = "t", stateBuckets = 4)
    assert(n == 1L, "re-registered probe lost the standing corpus")
    assert(spark.read.parquet(dir).select("vec_id").as[Long]
      .collect().toSet == Set(0L, 2L))
  }

  test("state meta: mismatched probe params refuse loudly") {
    val root = Files.createTempDirectory("bstate-meta").toString
    val dir = s"$root/corpus"
    DedupIngest.admitBatchEmbedding(spark,
      Seq((0L, vec())).toDF("vec_id", "embedding"), dir, batchId = 0L,
      threshold = 0.9, runTag = "t", stateBuckets = 4)
    // different banding: without the meta gate this probe would
    // compute band keys the stored postings never use — zero
    // candidates, everything admitted, silently
    val e = intercept[IllegalArgumentException] {
      DedupIngest.admitBatchEmbedding(spark,
        Seq((1L, vec())).toDF("vec_id", "embedding"), dir, batchId = 1L,
        threshold = 0.9, bands = 6, bitsPerBand = 10, runTag = "t",
        stateBuckets = 4)
    }
    assert(e.getMessage.contains("reband"))
    // bucket-count drift refuses too (a bucketed write into a
    // differently-bucketed table would lie about its layout)
    val e2 = intercept[IllegalArgumentException] {
      DedupIngest.admitBatchEmbedding(spark,
        Seq((1L, vec())).toDF("vec_id", "embedding"), dir, batchId = 1L,
        threshold = 0.9, runTag = "t", stateBuckets = 8)
    }
    assert(e2.getMessage.contains("reband"))
  }

  test("rebandCorpus: new banding stands, admission decisions preserved, old params refused") {
    val root = Files.createTempDirectory("bstate-reband").toString
    val dir = s"$root/corpus"
    val v = (0 until 6).map(_ => vec())
    // legacy-path corpus at the 8×4 defaults
    DedupIngest.admitBatchEmbedding(spark,
      v.zipWithIndex.map { case (e, i) => (i.toLong, e) }
        .toDF("vec_id", "embedding"),
      dir, batchId = 0L, threshold = 0.9, runTag = "t")
    // reband for a 200k-target corpus, switching to the bucketed layout
    val (bands, bits) = DedupIngest.rebandCorpus(spark, dir,
      targetN = 200000L, stateBuckets = 4)
    assert((bands, bits) == graft.ops.Dedup.annParams(200000L))
    // old params now refuse loudly — the silent-admit hazard is closed
    val e = intercept[IllegalArgumentException] {
      DedupIngest.admitBatchEmbedding(spark,
        Seq((100L, vec())).toDF("vec_id", "embedding"), dir, batchId = 1L,
        threshold = 0.9, runTag = "t")
    }
    assert(e.getMessage.contains("reband"))
    // new-params admission: a near-dup of every pre-reband vector is
    // still rejected (the rebuilt index carries the whole corpus) and
    // an honest new vector is admitted
    val probeRows = v.zipWithIndex.map { case (e2, i) =>
      (100L + i, dup(e2)) } :+ (200L, vec())
    val n = DedupIngest.admitBatchEmbedding(spark,
      probeRows.toDF("vec_id", "embedding"), dir, batchId = 1L,
      threshold = 0.9, bands = bands, bitsPerBand = bits, runTag = "t",
      stateBuckets = 4)
    assert(n == 1L, s"reband lost admission state: admitted $n of " +
      s"${probeRows.size} (expected only the new vector)")
    assert(spark.read.parquet(dir).select("vec_id").as[Long]
      .collect().toSet == (0L until 6L).toSet + 200L)
    // and the rebuilt store is the bucketed table
    val plan = spark.table(DedupIngest.stateTableName(dir + "_sbands"))
      .join(Seq(1L).toDF("_bkey").hint("shuffle_hash"), Seq("_bkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"reband did not bucket:\n$plan")
  }

  test("bucketed incremental-exact: decisions match legacy; fps confirm join reads in place") {
    val root = Files.createTempDirectory("bstate-inc").toString
    def run(dir: String, buckets: Int): Set[String] = {
      DedupIngest.bootstrapCorpus(spark,
        Seq((0L, "a"), (1L, "b")).toDF("ts", "text"), dir, "text", "ts",
        stateBuckets = buckets)
      Seq(Seq((2L, "a"), (3L, "c"), (4L, "c")), Seq((5L, "b"), (6L, "d")))
        .zipWithIndex.foreach { case (rows, i) =>
          DedupIngest.admitBatchIncremental(spark, rows.toDF("ts", "text"),
            dir, s"$dir-cp", batchId = i.toLong, key = "text",
            tiebreaker = "ts", expectedItems = 10000L, runTag = "t",
            stateBuckets = buckets)
        }
      spark.read.parquet(dir).select("text").as[String].collect().toSet
    }
    val want = run(s"$root/legacy", 0)
    assert(want == Set("a", "b", "c", "d"), s"legacy fixture drifted: $want")
    assert(run(s"$root/bucketed", 4) == want)
    // plan: the bloom-positive confirm anti-join reads the fps store
    // bucketed, with no Exchange above it (assert relative to legacy:
    // bucketed shape has exactly one fewer Exchange)
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val batch = Seq((9L, "a"), (10L, "zz")).toDF("ts", "text")
      def blob(dir: String) = Some(spark.sparkContext.broadcast(
        spark.read.parquet(dir + "_fps").stat.bloomFilter("_fp", 10000L, 0.01)))
      val bDir = s"$root/bucketed"
      val bucketedPlan = DedupIngest.incrementalAdmissionPlan(spark, batch,
        bDir + "_fps", blob(bDir), "t-9", "text", "ts",
        Some(DedupIngest.stateTableName(bDir + "_fps")))
      val bp = bucketedPlan.queryExecution.executedPlan.toString
      assert(bp.contains("Bucketed: true"), s"fps scan not bucketed:\n$bp")
      // hash-built from the batch side (a sort-merge would re-sort the
      // whole store every trigger even without the Exchange)
      assert(bp.contains("ShuffledHashJoin"),
        s"confirm join not hash-built from the batch side:\n$bp")
      val lDir = s"$root/legacy"
      val legacyPlan = DedupIngest.incrementalAdmissionPlan(spark, batch,
        lDir + "_fps", blob(lDir), "t-9", "text", "ts", None)
      val lp = legacyPlan.queryExecution.executedPlan.toString
      val (bx, lx) = ("Exchange".r.findAllIn(bp).size,
        "Exchange".r.findAllIn(lp).size)
      // the confirm join adds ZERO exchanges in bucketed mode: the
      // stored side reads bucketed, and the batch side reuses the
      // keep-first window's hash partitioning (legacy adds two)
      assert(bx == lx - 2, s"bucketed confirm join should drop both " +
        s"join Exchanges (bucketed=$bx legacy=$lx)\n--\n$bp\n--\n$lp")
      // and the decision is identical
      assert(bucketedPlan.select("text").as[String].collect().toSet ==
        legacyPlan.select("text").as[String].collect().toSet)
    }
  }

  test("retract and retractNearDup keep a bucketed store's layout valid") {
    val root = Files.createTempDirectory("bstate-retract").toString
    // embedding store
    val dir = s"$root/corpus"
    val v0 = vec(); val v1 = vec()
    DedupIngest.admitBatchEmbedding(spark,
      Seq((0L, v0), (1L, v1)).toDF("vec_id", "embedding"), dir,
      batchId = 0L, threshold = 0.9, runTag = "t", stateBuckets = 4)
    DedupIngest.retractNearDup(spark, dir,
      Seq(0L).toDF("vec_id"), "vec_id", bandsSuffix = "_sbands")
    // the store still reads as a bucketed table and the near-dup of
    // the retracted vector re-admits
    val tbl = DedupIngest.stateTableName(dir + "_sbands")
    assert(spark.table(tbl).select("_c_id").as[Long].collect()
      .toSet == Set(1L))
    assert(DedupIngest.admitBatchEmbedding(spark,
      Seq((10L, dup(v0))).toDF("vec_id", "embedding"), dir, batchId = 1L,
      threshold = 0.9, runTag = "t", stateBuckets = 4) == 1L)
    // exact store
    val iDir = s"$root/inc"
    DedupIngest.bootstrapCorpus(spark,
      Seq((0L, "a"), (1L, "b")).toDF("ts", "text"), iDir, "text", "ts",
      stateBuckets = 4)
    DedupIngest.retract(spark, iDir, Seq("a").toDF("text"), "text")
    assert(spark.read.parquet(iDir + "_fps").select("text").as[String]
      .collect().toSet == Set("b"))
    // retracted key re-admits through the bucketed confirm join
    assert(DedupIngest.admitBatchIncremental(spark,
      Seq((2L, "a")).toDF("ts", "text"), iDir, s"$iDir-cp", batchId = 0L,
      key = "text", tiebreaker = "ts", expectedItems = 10000L,
      runTag = "t", stateBuckets = 4) == 1L)
  }
}
