package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Similarity

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // deterministic pseudo-random corpus + one planted duplicate of vec 0
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), (i % 10).toInt)
    } :+ (200L, null, 0)
    val planted = rows.updated(100, (100L, rows.head._2.clone(), 0))
      .filterNot(_._2 == null)
    planted.toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k: planted duplicate ranks first with cosine 1") {
    val res = Similarity.bruteForceTopK(
      corpus.filter(col("vec_id") === 0), corpus, k = 5).collect()
    assert(res.length == 5)
    val top = res.find(_.getAs[Long]("rnk") == 1L).get
    assert(top.getAs[Long]("c_id") == 100L)
    assert(top.getAs[Double]("cosine") == 1.0)
  }

  test("LSH top-k finds the planted duplicate (same bucket by construction)") {
    val res = Similarity.lshTopK(
      corpus.filter(col("vec_id") === 0), corpus, k = 5)
    val top = res.filter(col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L, "identical vector must share its bucket")
    assert(top.getAs[Double]("cosine") == 1.0)
  }

  test("IVF top-k finds the planted duplicate; recall is substantial") {
    val res = Similarity.ivfTopK(
      corpus.filter(col("vec_id") === 0), corpus, k = 5, nlist = 8, nprobe = 3)
    val top = res.filter(col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L, "identical vector shares its cell")
    assert(top.getAs[Double]("cosine") == 1.0)

    val q = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(q, corpus, k = 5, nlist = 8, nprobe = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall collapsed")
  }

  test("PQ top-k finds the planted duplicate; recall is high with exact rerank") {
    val res = Similarity.pqTopK(
      corpus.filter(col("vec_id") === 0), corpus, k = 5)
    val top = res.filter(col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L,
      "identical vector maximizes ADC and survives rerank")
    assert(top.getAs[Double]("cosine") == 1.0)

    // rerank=50 over a 200-vector corpus: the ADC tier only has to
    // place true neighbors in its top quartile, so recall should be
    // near-perfect even on unclustered gaussians
    val q = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall $recall collapsed")
  }

  test("binary sign-code top-k: planted duplicate, recall, chunk parity, determinism") {
    // identical vectors have identical sign codes (Hamming 0), so the
    // planted twin must lead the scan tier and survive exact rerank
    val res = Similarity.binaryTopK(
      corpus.filter(col("vec_id") === 0), corpus, k = 5, rerank = 20)
    val top = res.filter(col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L,
      "identical vector has Hamming 0 and survives rerank")
    assert(top.getAs[Double]("cosine") == 1.0)
    // recall vs brute force: uniform Gaussian vectors are the angle
    // estimator's worst case (every cosine near 0, neighbors barely
    // separated) — the substantial-not-perfect floor the IVF test
    // uses, at the catalog's ~20% rerank depth
    val q = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.binaryTopK(q, corpus, k = 5, rerank = 40)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"binary recall $recall collapsed")
    // deterministic: fixed planes + fixed input ⇒ identical rows
    val again = Similarity.binaryTopK(q, corpus, k = 5, rerank = 40)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(again == approx)
  }

  test("scan-tier caches: persist once per corpus plan, released on demand") {
    // r10 ADVICE: the ad-hoc PQ/binary scan tiers persisted their
    // code tables with no release path — one executor-storage entry
    // per distinct corpus plan for the JVM lifetime. Pin the whole
    // lifecycle: register-once (no per-chunk or per-call re-persist
    // of the same plan), release, re-persist-after-release with
    // identical results.
    Similarity.releaseScanCaches()
    assert(Similarity.scanCacheCount == 0)
    val q = corpus.filter(col("vec_id") < 5)
    val r1 = Similarity.binaryTopK(q, corpus, k = 5, rerank = 40)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val afterFirst = Similarity.scanCacheCount
    assert(afterFirst == 1, s"one corpus plan must register once, got $afterFirst")
    // same corpus again: the CacheManager already holds the plan, so
    // nothing new registers (and no 'already cached' re-persist)
    Similarity.binaryTopK(q, corpus, k = 5, rerank = 40).count()
    assert(Similarity.scanCacheCount == afterFirst)
    // a distinct tier over the same corpus is a distinct plan
    Similarity.pqTopK(q, corpus, k = 5, rerank = 40).count()
    assert(Similarity.scanCacheCount == afterFirst + 1)
    Similarity.releaseScanCaches()
    assert(Similarity.scanCacheCount == 0)
    // post-release: the path re-persists and stays correct
    val r2 = Similarity.binaryTopK(q, corpus, k = 5, rerank = 40)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(r2 == r1)
    assert(Similarity.scanCacheCount == 1)
    Similarity.releaseScanCaches()
  }

  test("persisted binary index: vector-free scan tier, identical rows to binaryTopK") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-binary-idx"
    Similarity.buildBinaryIndex(corpus, dir)
    val q = corpus.filter(col("vec_id") < 10)
    val indexed = Similarity.binaryIndexedTopK(spark, dir, q, k = 5,
      rerank = 40)
    // the Hamming scan reads stored codes WITHOUT the raw vectors
    val plan = indexed.queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s => s.contains("c_sig") && !s.contains("embedding")),
      s"code-tier scan not column-pruned:\n${readSchemas.mkString("\n")}")
    // identical rows to the ad-hoc path: stored codes equal recomputed
    // codes (deterministic signing from the meta's seed)
    val adhoc = Similarity.binaryTopK(q, corpus, k = 5, rerank = 40)
      .as[(Long, Long, Double, Long)].collect().toSet
    val got = indexed.as[(Long, Long, Double, Long)].collect().toSet
    assert(got === adhoc)
    val top = indexed.filter(col("q_id") === 0 && col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L &&
      top.getAs[Double]("cosine") == 1.0)
  }

  test("filtered ANN: predicate pushed into the stored-code scan; post-filtering under-returns") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-binary-filt"
    Similarity.buildBinaryIndex(corpus, dir, metaCols = Seq("label"))
    val q = corpus.filter(col("vec_id") < 3)
    val filtered = Similarity.binaryIndexedTopK(spark, dir, q, k = 5,
      rerank = 300, predicate = Some(col("label") === 7))
    // the predicate reaches the parquet scan as a pushed filter, not
    // a post-scan Filter over full rows
    val plan = filtered.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"label predicate not pushed:\n$plan")
    // exhaustive regime (rerank > the 20 label-7 rows): exactly the
    // brute-force top-k over the FILTERED corpus, k results per query
    val got = filtered.select("q_id", "c_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(got.groupBy(_._1).forall(_._2.length == 5),
      "a filtered search must return k results per query")
    val exact = Similarity.bruteForceTopK(q,
        corpus.filter(col("label") === 7), k = 5)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    assert(got.toSet === exact)
    val labelOf = corpus.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    assert(got.forall(r => labelOf(r._2) == 7))
    // the contrast the operator exists for: post-filtering the
    // UNFILTERED top-k silently under-returns (~k/10 survivors at
    // this selectivity) instead of k qualifying results
    val post = Similarity.binaryIndexedTopK(spark, dir, q, k = 5,
        rerank = 300)
      .join(corpus.select(col("vec_id").as("c_id"), col("label")), "c_id")
      .filter(col("label") === 7)
    assert(post.count() < got.length,
      "post-filtering should return fewer than the filtered search's k per query")
  }

  test("metadata-bearing binary index: appends carry the stored columns or fail loudly") {
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = s"$tmp/graft-binary-meta-app"
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 =!= 0)
    Similarity.buildBinaryIndex(even, dir, metaCols = Seq("label"))
    // a batch WITH the stored metadata appends fine and the filtered
    // probe sees the appended rows under the predicate
    Similarity.appendToBinaryIndex(spark, dir, odd)
    val q = corpus.filter(col("vec_id") < 3)
    val got = Similarity.binaryIndexedTopK(spark, dir, q, k = 5,
        rerank = 300, predicate = Some(col("label") === 7))
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q,
        corpus.filter(col("label") === 7), k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(got === exact,
      "appended rows must be filter-searchable like build-time rows")
    // a batch MISSING the stored metadata column must fail analysis
    // loudly — a silent append would surface NULL labels under the
    // filtered probe (rows invisible to every predicate)
    val bare = odd.select("vec_id", "embedding")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.appendToBinaryIndex(spark, dir, bare)
    }
    assert(e.getMessage.toLowerCase.contains("label"),
      s"error must name the missing stored column: ${e.getMessage}")
  }

  test("filtered IVF-PQ: predicate shares the cell-pruned scan; escalation rescues emptied cells") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-filt"
    Similarity.buildIvfPqIndex(corpus, dir, nlist = 8, m = 8, ksub = 16,
      metaCols = Seq("label"))
    val q = corpus.filter(col("vec_id") < 3)
    val pred = col("label") === 7
    // (1) plan shape on the fixed-nprobe probe (lazy — the escalating
    // wrapper checkpoints its passes): the label predicate lands in
    // the SAME scan the probed-cell partition filter prunes — both
    // prunings multiply, neither disables the other
    val plan = Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
        nprobe = 2, rerank = 300, predicate = Some(pred))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probed-cell partition pruning lost under the predicate:\n$plan")
    assert("PushedFilters: \\[[^\\]]*label[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"label predicate not pushed into the parquet scan:\n$plan")
    // (2) the emptied-cell failure and its rescue: at nprobe0=1 a
    // query whose nearest cell holds < k qualifying rows under-returns
    // when escalation is OFF (nprobeMax = nprobe0)...
    val starved = Similarity.ivfPqIndexedTopKFiltered(spark, dir, q, pred,
        k = 5, nprobe0 = 1, nprobeMax = 1, rerank = 300)
      .groupBy("q_id").count().collect()
    assert(starved.exists(_.getLong(1) < 5),
      "fixture drifted: narrow filtered probe no longer starves any query " +
        "(the escalation rescue below would be vacuous)")
    // ...and escalation at nprobeMax = nlist rescues it: margin −10
    // disables the centroid-cosine criterion, so ONLY the under-return
    // signal (hits < k) drives the re-probe — the signature unique to
    // the filtered path. Escalated queries scan ALL qualifying codes
    // (20 rows < rerank), so every query returns its k.
    val rescued = Similarity.ivfPqIndexedTopKFiltered(spark, dir, q, pred,
      k = 5, nprobe0 = 1, nprobeMax = 8, margin = -10.0, rerank = 300)
    val byQ = rescued.select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1)
    assert(byQ.size == 3 && byQ.forall(_._2.length == 5),
      "escalation must restore k results per query")
    val labelOf = corpus.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    assert(byQ.values.flatten.forall(r => labelOf(r._2) == 7))
    // (3) exhaustive regime (nprobe0 = nlist, rerank > qualifying
    // rows): exactly brute force over the FILTERED corpus
    val exhaustive = Similarity.ivfPqIndexedTopKFiltered(spark, dir, q, pred,
        k = 5, nprobe0 = 8, nprobeMax = 8, rerank = 300)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    val exact = Similarity.bruteForceTopK(q,
        corpus.filter(pred), k = 5)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    assert(exhaustive === exact)
    // (4) the selective-predicate fall-through: below the survivor
    // threshold the probe skips index machinery for an exact filtered
    // brute force — identical rows by the same exhaustive argument
    val brute = Similarity.ivfPqIndexedTopKFiltered(spark, dir, q, pred,
        k = 5, nprobe0 = 1, nprobeMax = 1, rerank = 300, bruteBelow = 100L)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    assert(brute === exact,
      "survivor fall-through must return the exact filtered top-k")
  }

  test("metadata-bearing IVF-PQ index: appends and refits carry the stored columns") {
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = s"$tmp/graft-ivfpq-meta-app"
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 =!= 0)
    Similarity.buildIvfPqIndex(even, dir, nlist = 8, m = 8, ksub = 16,
      metaCols = Seq("label"))
    Similarity.appendToIvfPqIndex(spark, dir, odd)
    val q = corpus.filter(col("vec_id") < 3)
    val pred = col("label") === 7
    // appended rows are filter-searchable like build-time rows
    // (exhaustive regime: full probe + rerank beyond qualifying count)
    val got = Similarity.ivfPqIndexedTopKFiltered(spark, dir, q, pred,
        k = 5, nprobe0 = 8, nprobeMax = 8, rerank = 300)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, corpus.filter(pred), k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(got === exact,
      "appended rows must be filter-searchable like build-time rows")
    // a batch MISSING the stored metadata column fails analysis loudly
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.appendToIvfPqIndex(spark, dir,
        odd.select("vec_id", "embedding"))
    }
    assert(e.getMessage.toLowerCase.contains("label"),
      s"error must name the missing stored column: ${e.getMessage}")
    // a refit re-derives the model but KEEPS the stored metadata —
    // dropping it would silently break the filtered probe
    Similarity.refitIvfPqIndex(spark, dir, nlist = 8, m = 8, ksub = 16)
    val afterRefit = Similarity.ivfPqIndexedTopKFiltered(spark, dir, q, pred,
        k = 5, nprobe0 = 8, nprobeMax = 8, rerank = 300)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(afterRefit === exact,
      "a refit must preserve metadata columns and filtered-search results")
  }

  test("binary index append: byte-identical to a rebuild; delta twin equals brute force over the union") {
    val tmp = System.getProperty("java.io.tmpdir")
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 =!= 0)
    // append-forever with ZERO drift: the planes are data-independent
    // (deterministic from the stored seed), so build-half + append
    // must equal a full rebuild row for row — no frozen-model caveat,
    // the only index family where that holds exactly
    val appended = s"$tmp/graft-binary-app"
    Similarity.buildBinaryIndex(even, appended)
    Similarity.appendToBinaryIndex(spark, appended, odd)
    val full = s"$tmp/graft-binary-full"
    Similarity.buildBinaryIndex(corpus, full)
    def stored(d: String) = spark.read.parquet(d)
      .select(col("c_id"), col("c_sig"))
      .as[(Long, Seq[Long])].collect().toSet
    assert(stored(appended) === stored(full))
    val q = corpus.filter(col("vec_id") < 10)
    def probe(d: String) = Similarity.binaryIndexedTopK(spark, d, q,
      k = 5, rerank = 40).as[(Long, Long, Double, Long)].collect().toSet
    assert(probe(appended) === probe(full))
    // delta twin in the exhaustive regime: index on evens + odd delta
    // must equal exact brute force over the whole corpus
    val half = s"$tmp/graft-binary-half"
    Similarity.buildBinaryIndex(even, half)
    val merged = Similarity.binaryIndexedTopKWithDelta(spark, half, odd, q,
        k = 5, rerank = 300)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    assert(merged === exact)
  }

  test("IVF-PQ composition finds the planted duplicate; recall compounds sanely") {
    val res = Similarity.ivfPqTopK(
      corpus.filter(col("vec_id") === 0), corpus, k = 5, nlist = 8, nprobe = 3)
    val top = res.filter(col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L,
      "identical vector shares its cell, maximizes ADC, survives rerank")
    assert(top.getAs[Double]("cosine") == 1.0)

    // composed recall can only lose what the IVF cell pruning loses on
    // top of PQ's candidate tier: both measured above, the composition
    // must stay within the coarser (IVF) tier's floor
    val q = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfPqTopK(q, corpus, k = 5, nlist = 8, nprobe = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-PQ recall $recall collapsed")
    // every returned neighbor carries its EXACT cosine (rerank tier)
    val cos = Similarity.ivfPqTopK(q, corpus, k = 5, nlist = 8, nprobe = 3)
      .join(Similarity.bruteForceTopK(q, corpus, k = 200)
        .select(col("q_id"), col("c_id"), col("cosine").as("exact_cos")),
        Seq("q_id", "c_id"))
    assert(cos.filter(col("cosine") =!= col("exact_cos")).isEmpty)
  }

  test("query chunking: chunks partition the set, chunked PQ union == unchunked") {
    // the heap-bound chunking (Similarity.queryChunks) must be
    // invisible in the result: per-query work never crosses chunks,
    // so running each chunk separately and unioning is row-identical
    // to the one-shot plan. Forced multi-chunk via a tiny budget.
    val qs = corpus.filter(col("vec_id") % 7 === 0)
    val nq = qs.count()
    val chunks = Similarity.queryChunks(qs, rerank = 20, budgetBytes = 64 * 16)
    assert(chunks.size > 1, "budget should force multiple chunks")
    assert(chunks.map(_.count()).sum == nq, "chunks must partition the query set")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rnk"))).toSet
    val whole = rows(Similarity.pqTopK(qs, corpus, k = 5, m = 8, ksub = 16, rerank = 20))
    val unioned = chunks.map(c =>
        Similarity.pqTopK(c, corpus, k = 5, m = 8, ksub = 16, rerank = 20))
      .map(rows).reduce(_ ++ _)
    assert(unioned == whole, "chunked union diverged from the one-shot result")
  }

  test("PQ codes are m bytes and deterministic across runs") {
    import graft.ops.Similarity
    Similarity.clearPqCodebookCache()
    val a = Similarity.pqTopK(corpus.filter(col("vec_id") === 0), corpus, k = 5)
      .select("c_id", "cosine").as[(Long, Double)].collect().toSeq
    Similarity.clearPqCodebookCache()
    val b = Similarity.pqTopK(corpus.filter(col("vec_id") === 0), corpus, k = 5)
      .select("c_id", "cosine").as[(Long, Double)].collect().toSeq
    assert(a == b, "codebook fit / encode / ADC must be deterministic")
  }

  test("LSH recall vs brute force is substantial on random data") {
    val q = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall collapsed — LSH bucketing broken")
  }

  test("persisted LSH index: bucket-pruned probe, same results as the ad-hoc path") {
    spark.sql("DROP TABLE IF EXISTS lsh_idx")
    val loc = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/lsh_idx")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    Similarity.buildLshIndex(corpus, "lsh_idx", buckets = 32)
    // one point lookup, probe radius 1 → ≤ 9 of 32 buckets touched
    val q = corpus.filter(col("vec_id") === 0)
    val indexed = Similarity.lshIndexedTopK(spark, "lsh_idx", q, k = 5, probeDist = 1)
    // the scan must read ONLY the probed buckets, not the table
    val scan = indexed.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(scan)
    assert(sel.isDefined, s"no bucket pruning in plan:\n$scan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"probe read every bucket: ${sel.get.matched}")
    // result parity with the ad-hoc (scan-everything) formulation
    val adhoc = Similarity.lshTopK(q, corpus, k = 5, probeDist = 1)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)].collect().toSet
    val got = indexed
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(got === adhoc)
  }

  private def dropLshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_meta")
    for (suffix <- Seq("", "_meta")) {
      val loc = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/$name$suffix")
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
  }

  test("filtered LSH: predicate in the bucket-pruned scan; escalation + brute fall-through guarantee k") {
    dropLshTable("lsh_filt_idx")
    Similarity.buildLshIndexAdaptive(corpus, "lsh_filt_idx",
      metaCols = Seq("label"))
    val q = corpus.filter(col("vec_id") < 3)
    // ~4% selectivity (8 qualifying rows ≥ k, but a radius-3 ball
    // holds ~4 of them in expectation) so the max radius genuinely
    // starves — `pred` speaks the STORED schema (c_id), `predCorpus`
    // the fixture's (vec_id)
    val pred = col("label") === 7 && col("c_id") < 80
    val predCorpus = col("label") === 7 && col("vec_id") < 80
    // (1) plan shape on one pass: the label predicate reaches the
    // SAME scan the probe's bucket IN-list prunes — PushedFilters ×
    // SelectedBucketsCount, one scan, neither pruning disabled
    val pass2 = Similarity.lshIndexedPass(spark, "lsh_filt_idx", q, 5,
      nBits = 8, probeDist = 2, dim = 64, seed = 42L, maxProbe = 100000,
      predicate = Some(pred))
    val plan = pass2.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*label[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"label predicate not pushed into the bucket scan:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"bucket pruning lost under the predicate:\n$plan")
    // (2) the starvation regime is REAL here (20 qualifying rows over
    // a 256-signature space: a radius-2 ball holds ~3 of them), so
    // the three-tier guarantee is non-vacuous: every query must still
    // return exactly k qualifying rows
    val pass3 = Similarity.lshIndexedPass(spark, "lsh_filt_idx", q, 5,
      nBits = 8, probeDist = 3, dim = 64, seed = 42L, maxProbe = 100000,
      predicate = Some(pred))
    val cnt3 = pass3.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    val starvedAtMax = q.select("vec_id").as[Long].collect()
      .filter(id => cnt3.getOrElse(id, 0L) < 5L)
    assert(starvedAtMax.nonEmpty,
      "fixture drifted: no query starves even at the max radius — the " +
        "brute fall-through pin below would be vacuous")
    val got = Similarity.lshIndexedTopKFiltered(spark, "lsh_filt_idx", q,
      pred, k = 5, probeDist0 = 2, probeDistMax = 3)
    val rows = got.select("q_id", "c_id").as[(Long, Long)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 5),
      "filtered search must return k qualifying rows per query")
    val labelOf = corpus.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    assert(rows.forall(r => labelOf(r._2) == 7 && r._2 < 80),
      "non-qualifying id returned")
    // (3) still-starved queries fall through to EXACT filtered brute
    // force — their rows must equal the filtered exact top-k
    val exact = Similarity.bruteForceTopK(q, corpus.filter(predCorpus), k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    for (id <- starvedAtMax)
      assert(rows.filter(_._1 == id).map(_._2).toSet == exact(id),
        s"starved query $id must get the exact filtered top-k")
    // (4) the contrast the operator exists for: post-filtering the
    // unfiltered top-k under-returns
    val post = Similarity.lshIndexedTopKAuto(spark, "lsh_filt_idx", q, k = 5)
      .join(corpus.select(col("vec_id").as("c_id"), col("label")), "c_id")
      .filter(col("label") === 7 && col("c_id") < 80)
    assert(post.count() < rows.length,
      "post-filtering should return fewer than the filtered search's k per query")
    // (5) bruteBelow short-circuit: qualifying corpus (20 rows) under
    // the threshold → exact filtered brute force for every query
    val brute = Similarity.lshIndexedTopKFiltered(spark, "lsh_filt_idx", q,
        pred, k = 5, bruteBelow = 50L)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert(brute == exact)
  }

  test("metadata-bearing LSH index: appends carry the stored columns or fail loudly") {
    dropLshTable("lsh_meta_app")
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 =!= 0)
    Similarity.buildLshIndexAdaptive(even, "lsh_meta_app",
      metaCols = Seq("label"))
    Similarity.appendToLshIndex(spark, "lsh_meta_app", odd)
    // appended rows are filter-searchable like build-time rows (the
    // qualifying corpus is small, so the brute tier makes the check
    // exact)
    val q = corpus.filter(col("vec_id") < 3)
    val got = Similarity.lshIndexedTopKFiltered(spark, "lsh_meta_app", q,
        col("label") === 7, k = 5, bruteBelow = 50L)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q,
        corpus.filter(col("label") === 7), k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(got == exact,
      "appended rows must be filter-searchable like build-time rows")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.appendToLshIndex(spark, "lsh_meta_app",
        odd.select("vec_id", "embedding"))
    }
    assert(e.getMessage.toLowerCase.contains("label"),
      s"error must name the missing stored column: ${e.getMessage}")
  }

  test("adaptive LSH sizing pins the gate-scale choice and scales bits with n") {
    // gate scales (sf0.01 / sf0.1 / sf1 embeddings) resolve to the
    // catalog oracle's pinned 8 bits — the adaptive path IS the pinned
    // path there, so the hyperplane-literal DuckDB oracle reproduces it
    assert(Similarity.lshBits(500) == 8)
    assert(Similarity.lshBits(2000) == 8)
    assert(Similarity.lshBits(20000) == 8)
    // scale sweeps grow the bucket space: 2^bits ∝ n/target, which is
    // what un-saturates the fixed 256-bucket space (VERDICT r6 #1)
    assert(Similarity.lshBits(100000) == 11)
    assert(Similarity.lshBits(500000) == 13)
    assert(Similarity.lshBits(100000000L) == 20, "cap at 20 bits")
    // adaptive == pinned at gate scale, bit for bit
    val q = corpus.filter(col("vec_id") < 10)
    val pinned = Similarity.lshTopK(q, corpus, k = 5, nBits = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    val adaptive = Similarity.lshTopKAdaptive(q, corpus, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(adaptive === pinned)
  }

  test("lshDeltaProbeDist: the refutation-backed constant and its mask arithmetic") {
    // r11 VERDICT #5 asked for a regime-derived radius (2 above the
    // 8-bit regime); it was implemented, measured per rung at each
    // radius's own catalog bound (SCALE.md, "LSH delta probe radius"), and
    // REFUTED — radius-2 floor misses GROW with bits (below3 1/400 →
    // 8/1607 → 16/1139 at sf1/5/25) exactly as fixed-radius geometry
    // predicts. Pin the constant and the mask counts the evidence and
    // the query bounds are priced in, so a drift in either re-opens
    // the question visibly.
    assert(Similarity.lshDeltaProbeDist == 3)
    assert(Similarity.probeMaskCount(8, 3) == 93)   // sf0.01–sf1 half
    assert(Similarity.probeMaskCount(10, 3) == 176) // sf5 half
    assert(Similarity.probeMaskCount(12, 3) == 299) // sf25 half
    assert(Similarity.probeMaskCount(12, 2) == 79)  // the refuted 2.5×-cheaper probe
  }

  test("adaptive LSH index: params persist in meta, auto probe matches join form") {
    spark.sql("DROP TABLE IF EXISTS lsh_idx_ad")
    spark.sql("DROP TABLE IF EXISTS lsh_idx_ad_meta")
    val bits = Similarity.buildLshIndexAdaptive(corpus, "lsh_idx_ad")
    assert(bits == 8, "201-row corpus resolves to the 8-bit floor")
    val meta = spark.table("lsh_idx_ad_meta").collect().head
    assert(meta.getAs[Int]("nbits") == 8 && meta.getAs[Int]("dim") == 64 &&
      meta.getAs[Long]("seed") == 42L)
    val q = corpus.filter(col("vec_id") === 0)
    val auto = Similarity.lshIndexedTopKAuto(spark, "lsh_idx_ad", q, k = 5)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)].collect().toSet
    val adhoc = Similarity.lshTopKAdaptive(q, corpus, k = 5)
      .select("q_id", "c_id", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(auto === adhoc)
    // an index whose meta table is missing (pre-adaptive build, or a
    // partial write) fails loudly, not silently with zero candidates
    // from mismatched signatures
    spark.sql("DROP TABLE IF EXISTS lsh_idx_ad_meta")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshIndexedTopKAuto(spark, "lsh_idx_ad", q, k = 5)
    }
    assert(e.getMessage.contains("meta"))
  }

  test("indexed probe past the maxProbe cap fails loudly, not OOM") {
    val q = corpus.limit(20)
    // 20 queries × 9 masks (radius 1) = 180 exploded rows > 100
    val e = intercept[IllegalArgumentException] {
      Similarity.lshIndexedTopK(spark, "lsh_idx", q, k = 5, probeDist = 1,
        maxProbe = 100)
    }
    assert(e.getMessage.contains("maxProbe"))
  }

  test("persisted IVF index: partition-pruned probe, identical rows to ivfTopK") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-idx"
    Similarity.buildIvfIndex(corpus, dir, nlist = 8)
    val q = corpus.filter(col("vec_id") < 10)
    val indexed = Similarity.ivfIndexedTopK(spark, dir, q, k = 5, nprobe = 3)
    // the scan must prune to the probed cell directories
    val scan = indexed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"no partition pruning on cell in plan:\n$scan")
    // full parity with the ad-hoc path (shared cell assignment + rerank)
    val adhoc = Similarity.ivfTopK(q, corpus, k = 5, nlist = 8, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val got = indexed.as[(Long, Long, Double, Long)].collect().toSet
    assert(got === adhoc)
    // planted duplicate still surfaces through the index
    val top = indexed.filter(col("q_id") === 0 && col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L &&
      top.getAs[Double]("cosine") == 1.0)
  }

  test("persisted IVF-PQ index: pruned two-tier reads, identical rows to ivfPqTopK") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-idx"
    Similarity.buildIvfPqIndex(corpus, dir, nlist = 8, m = 8, ksub = 16)
    val q = corpus.filter(col("vec_id") < 10)
    val indexed = Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
      nprobe = 3, rerank = 50)
    val plan = indexed.queryExecution.executedPlan.toString
    // both tiers prune to the probed cell directories
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning on cell in plan:\n$plan")
    // the ADC tier reads codes WITHOUT the raw vectors: some scan's
    // ReadSchema must carry `code` and not `c_emb`
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s => s.contains("code") && !s.contains("c_emb")),
      s"code-tier scan not column-pruned:\n${readSchemas.mkString("\n")}")
    // identical rows to the in-query composition (shared cell +
    // codebook assignment; codebooks roundtrip exactly through parquet)
    val adhoc = Similarity.ivfPqTopK(q, corpus, k = 5, nlist = 8, m = 8,
        ksub = 16, rerank = 50, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val got = indexed.as[(Long, Long, Double, Long)].collect().toSet
    assert(got === adhoc)
    // planted duplicate surfaces through the persisted code scan
    val top = indexed.filter(col("q_id") === 0 && col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") == 100L &&
      top.getAs[Double]("cosine") == 1.0)
  }

  test("model cache: epoch churn at one path keeps one live entry and serves the new model") {
    // r15 (VERDICT r14 #8 / ADVICE): the old size>512 bound cleared the
    // WHOLE cache; eviction is now per-path — a rebuild-heavy session
    // must keep exactly the live epoch per tree, and a rebuilt index
    // must serve the NEW model, never the stuck old epoch's bytes.
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-churn"
    val q = corpus.filter(col("vec_id") < 10)
    def probe() = Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
      nprobe = 3, rerank = 50).as[(Long, Long, Double, Long)].collect().toSet
    Similarity.clearModelCache()
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    probe()
    val keys1 = Similarity.modelCacheKeysFor(dir + "_centroids")
    assert(keys1.size == 1, s"expected 1 cached epoch, got $keys1")
    // rebuild the SAME path from a different corpus: new epoch, new model
    Similarity.buildIvfPqIndex(corpus, dir, nlist = 8, m = 8, ksub = 16)
    val got = probe()
    val keys2 = Similarity.modelCacheKeysFor(dir + "_centroids")
    assert(keys2.size == 1 && keys2 != keys1,
      s"stale epoch not evicted: before=$keys1 after=$keys2")
    // served rows are the NEW tree's (full-corpus model), not the old
    val adhoc = Similarity.ivfPqTopK(q, corpus, k = 5, nlist = 8, m = 8,
        ksub = 16, rerank = 50, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === adhoc)
  }

  // ---- frozen-model incremental append ---------------------------- //

  private lazy val evenBase = corpus.filter(col("vec_id") % 2 === 0)
  private lazy val oddBatch = corpus.filter(col("vec_id") % 2 =!= 0)

  test("IVF-PQ append: frozen model untouched, appended rows exact in the exhaustive regime") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-app"
    // plant a twin of vec 0 in the APPENDED batch so discoverability
    // crosses the build/append boundary (vec 0 and its build-time twin
    // 100 are both even, i.e. both in the base)
    val twin = corpus.filter(col("vec_id") === 0)
      .select(lit(301L).as("vec_id"), col("embedding"), col("label"))
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    val centsBefore = spark.read.parquet(dir + "_centroids").collect().toSet
    val cbsBefore = spark.read.parquet(dir + "_codebooks").collect().toSet
    Similarity.appendToIvfPqIndex(spark, dir, oddBatch.unionByName(twin))
    // append must never refit: the persisted model is byte-identical
    assert(spark.read.parquet(dir + "_centroids").collect().toSet === centsBefore)
    assert(spark.read.parquet(dir + "_codebooks").collect().toSet === cbsBefore)
    // index now holds every corpus row exactly once (plus the twin)
    assert(spark.read.parquet(dir).count() === corpus.count() + 1)
    // exhaustive regime (probe all cells, rerank > corpus): the frozen-
    // model index must reproduce exact brute force over base ∪ batch —
    // appended rows are first-class at every tier or this diverges
    val q = corpus.filter(col("vec_id") < 10)
    val full = corpus.unionByName(twin)
    val got = Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
        nprobe = 8, rerank = 300)
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, full, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === exact)
    // at production probe width the appended twin routes to vec 0's
    // frozen cell and surfaces through the ADC scan: both duplicates
    // (build-time 100, appended 301) rank 1-2 at cosine 1
    val top2 = Similarity.ivfPqIndexedTopK(spark, dir,
        corpus.filter(col("vec_id") === 0), k = 5, nprobe = 3, rerank = 50)
      .filter(col("rnk") <= 2).collect()
    assert(top2.map(_.getAs[Long]("c_id")).toSet === Set(100L, 301L))
    assert(top2.forall(_.getAs[Double]("cosine") == 1.0))
  }

  test("IVF-PQ append: one append == two appends, content- and result-identical") {
    val dirOne = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-app1"
    val dirTwo = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-app2"
    Similarity.buildIvfPqIndex(evenBase, dirOne, nlist = 8, m = 8, ksub = 16)
    Similarity.buildIvfPqIndex(evenBase, dirTwo, nlist = 8, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(spark, dirOne, oddBatch)
    Similarity.appendToIvfPqIndex(spark, dirTwo, oddBatch.filter(col("vec_id") < 100))
    Similarity.appendToIvfPqIndex(spark, dirTwo, oddBatch.filter(col("vec_id") >= 100))
    def content(d: String) = spark.read.parquet(d)
      .select(col("c_id"), col("cell"), col("c_nrm"), hex(col("code")).as("code"))
      .as[(Long, Int, Double, String)].collect().toSet
    assert(content(dirOne) === content(dirTwo))
    val q = corpus.filter(col("vec_id") < 10)
    def res(d: String) = Similarity.ivfPqIndexedTopK(spark, d, q, k = 5,
        nprobe = 3, rerank = 50)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(res(dirOne) === res(dirTwo))
  }

  test("LSH append: frozen-params signing, appended rows probe-identical to a full build") {
    Similarity.buildLshIndexAdaptive(evenBase, "graft_lsh_app_half", dim = 64)
    Similarity.appendToLshIndex(spark, "graft_lsh_app_half", oddBatch)
    Similarity.buildLshIndexAdaptive(corpus, "graft_lsh_app_full", dim = 64)
    val q = corpus.filter(col("vec_id") < 10)
    def res(t: String) = Similarity.lshIndexedTopKAuto(spark, t, q, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    // deterministic signatures ⇒ build-half+append ≡ full build,
    // row for row (same params: both corpora sit in the 8-bit regime)
    assert(res("graft_lsh_app_half") === res("graft_lsh_app_full"))
    // bucket pruning still engages over the appended files
    val plan = Similarity.lshIndexedTopKAuto(spark, "graft_lsh_app_half", q, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"no bucket pruning after append:\n$plan")
  }

  test("compactIndex: segments fold to one file per cell; results and model untouched") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-compact"
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(spark, dir, oddBatch.filter(col("vec_id") < 100))
    Similarity.appendToIvfPqIndex(spark, dir, oddBatch.filter(col("vec_id") >= 100))
    def content(d: String) = spark.read.parquet(d)
      .select(col("c_id"), col("cell"), col("c_nrm"), hex(col("code")).as("code"))
      .as[(Long, Int, Double, String)].collect().toSet
    def files(d: String) = spark.read.parquet(d)
      .select(input_file_name()).distinct().count()
    val q = corpus.filter(col("vec_id") < 10)
    def res(d: String) = Similarity.ivfPqIndexedTopK(spark, d, q, k = 5,
        nprobe = 3, rerank = 50)
      .as[(Long, Long, Double, Long)].collect().toSet
    val (before, filesBefore, resBefore) = (content(dir), files(dir), res(dir))
    val centsBefore = spark.read.parquet(dir + "_centroids").collect().toSet
    Similarity.compactIndex(spark, dir)
    assert(content(dir) === before)
    assert(res(dir) === resBefore)
    assert(spark.read.parquet(dir + "_centroids").collect().toSet === centsBefore)
    // three writes left up to 3 files per touched cell; compaction
    // folds back to at most one per cell
    assert(files(dir) <= 8 && files(dir) < filesBefore,
      s"files after compact: ${files(dir)} (before: $filesBefore)")
    // everything now sits under the single fresh base segment
    assert(spark.read.parquet(dir).select("seg").distinct()
      .as[String].collect().toSeq === Seq("base"))
  }

  test("refitIvfPqIndex: fresh model over current contents, ids preserved, exact in exhaustive regime") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-refit"
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 4, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(spark, dir, oddBatch)
    Similarity.refitIvfPqIndex(spark, dir, nlist = 8, m = 8, ksub = 16)
    // the model is genuinely refit: nlist grew from 4 to 8
    assert(spark.read.parquet(dir + "_centroids").count() === 8L)
    // every id survives the rebuild
    val ids = spark.read.parquet(dir).select("c_id").as[Long].collect().toSet
    val expected = corpus.select("vec_id").as[Long].collect().toSet
    assert(ids === expected)
    // exhaustive regime through the refit index == exact brute force
    val q = corpus.filter(col("vec_id") < 10)
    val got = Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
        nprobe = 8, rerank = 300)
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === exact)
  }

  test("delta search: index + unappended delta equals brute force over the union") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-delta"
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    val q = corpus.filter(col("vec_id") < 10)
    // exhaustive regime: the only approximation left is the index
    // probe, so probing all cells with rerank > corpus must equal
    // exact brute force over base ∪ delta
    val got = Similarity.ivfPqIndexedTopKWithDelta(spark, dir, oddBatch, q,
        k = 5, nprobe = 8, rerank = 300)
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === exact)
    // overlap dedup: a delta that repeats indexed rows must not
    // produce duplicate (q_id, c_id) pairs or displace real neighbors
    val overlap = Similarity.ivfPqIndexedTopKWithDelta(spark, dir,
        evenBase.limit(50).unionByName(oddBatch), q, k = 5,
        nprobe = 8, rerank = 300)
      .as[(Long, Long, Double, Long)].collect()
    assert(overlap.map(r => (r._1, r._2)).distinct.length === overlap.length)
    assert(overlap.toSet === exact)
  }

  test("delta-side priority: an updated embedding for an indexed id scores from the delta") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-delta-upd"
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    // the delta UPDATES indexed id 2 to be an exact copy of the query
    // vector: the merged result must carry the delta's cosine (1.0) —
    // an arbitrary dropDuplicates could keep the stale indexed score
    // and rank id 2 anywhere (r8 ADVICE)
    val qVec = corpus.filter(col("vec_id") === 4).head()
      .getAs[Seq[Float]]("embedding").toArray
    val q = Seq((999L, qVec)).toDF("vec_id", "embedding")
    val delta = Seq((2L, qVec)).toDF("vec_id", "embedding")
    val top = Similarity.ivfPqIndexedTopKWithDelta(spark, dir, delta, q,
      k = 3, nprobe = 8, rerank = 300).filter(col("rnk") === 1).head()
    assert(top.getAs[Long]("c_id") === 2L || top.getAs[Long]("c_id") === 4L)
    val pair = Similarity.ivfPqIndexedTopKWithDelta(spark, dir, delta, q,
        k = 3, nprobe = 8, rerank = 300)
      .filter(col("c_id") === 2L).head()
    assert(pair.getAs[Double]("cosine") === 1.0,
      "collision kept the stale indexed score instead of the delta's")
  }

  test("LSH delta twin: index + unappended delta equals brute force over the union") {
    Similarity.buildLshIndexAdaptive(evenBase, "graft_lsh_delta", dim = 64)
    val q = corpus.filter(col("vec_id") < 10)
    // probeDist ≥ nBits probes every bucket — the only approximation
    // left is banding, removed, so the union must be exact
    val got = Similarity.lshIndexedTopKWithDelta(spark, "graft_lsh_delta",
        oddBatch, q, k = 5, probeDist = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === exact)
    // overlap dedup: a delta repeating indexed rows must not duplicate
    // (q_id, c_id) pairs or displace real neighbors
    val overlap = Similarity.lshIndexedTopKWithDelta(spark, "graft_lsh_delta",
        evenBase.limit(50).unionByName(oddBatch), q, k = 5, probeDist = 8)
      .as[(Long, Long, Double, Long)].collect()
    assert(overlap.map(r => (r._1, r._2)).distinct.length === overlap.length)
    assert(overlap.toSet === exact)
  }

  test("torn-swap guard: mismatched model epochs refuse loudly instead of serving") {
    // simulate a crash between rewriteInPlace's renames: the data tree
    // carries one epoch, the model tables another — new-data-beside-
    // old-model would return wrong neighbors with no error, so every
    // read/append path must refuse it
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-torn"
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    val q = corpus.filter(col("vec_id") === 0)
    // coherent index serves fine
    assert(Similarity.ivfPqIndexedTopK(spark, dir, q, k = 3,
      nprobe = 3, rerank = 50).count() === 3L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir + "/_graft_epoch")
    val out = fs.create(marker, true)
    out.write("torn-other-epoch".getBytes("UTF-8")); out.close()
    val eq = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexedTopK(spark, dir, q, k = 3, nprobe = 3,
        rerank = 50).count()
    }
    assert(eq.getMessage.contains("TORN"))
    val ea = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(spark, dir, oddBatch.limit(5))
    }
    assert(ea.getMessage.contains("TORN"))
    // compaction must refuse too: it preserves stored cells/codes and
    // copies the model forward, which would CEMENT the tear (and its
    // prologue deletes the .compacting* roll-forward recovery trees)
    val ec = intercept[IllegalArgumentException] {
      Similarity.compactIndex(spark, dir)
    }
    assert(ec.getMessage.contains("TORN"))
    // refit is the documented one-shot RECOVERY: it re-derives the
    // model and every stored cell/code from the raw vectors, which
    // are valid regardless of the tear
    Similarity.refitIvfPqIndex(spark, dir, nlist = 8, m = 8, ksub = 16)
    val recovered = Similarity.ivfPqIndexedTopK(spark, dir, q, k = 3,
        nprobe = 8, rerank = 300)
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, evenBase, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(recovered === exact, "refit did not recover the torn index")
  }

  test("IVF (non-PQ) compaction: codebook-less index folds and stays exact") {
    // compactIndex's model handling must work when only _centroids
    // exists (buildIvfIndex layout — no codebooks to copy or check)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-compact"
    Similarity.buildIvfIndex(evenBase, dir, nlist = 8)
    Similarity.appendToIvfIndex(spark, dir, oddBatch.filter(col("vec_id") < 100))
    Similarity.appendToIvfIndex(spark, dir, oddBatch.filter(col("vec_id") >= 100))
    val q = corpus.filter(col("vec_id") < 10)
    def res() = Similarity.ivfIndexedTopK(spark, dir, q, k = 5, nprobe = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    val before = res()
    def files() = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val filesBefore = files()
    Similarity.compactIndex(spark, dir)
    assert(res() === before)
    assert(files() <= 8 && files() < filesBefore)
    assert(res() === Similarity.bruteForceTopK(q, corpus, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet)
  }

  test("IVF append: exhaustive-regime exactness and pruned probe after append") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-app"
    Similarity.buildIvfIndex(evenBase, dir, nlist = 8)
    Similarity.appendToIvfIndex(spark, dir, oddBatch)
    val q = corpus.filter(col("vec_id") < 10)
    val indexed = Similarity.ivfIndexedTopK(spark, dir, q, k = 5, nprobe = 8)
    val got = indexed.as[(Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === exact)
    // cell partition pruning survives the append (appended files live
    // inside the same cell=K directories)
    val plan = Similarity.ivfIndexedTopK(spark, dir, q, k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning on cell in plan:\n$plan")
  }

  test("adaptive probe: escalated ≡ wide probe, non-escalated ≡ narrow, recall never below narrow") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-adapt"
    Similarity.buildIvfPqIndex(corpus, dir, nlist = 8, m = 8, ksub = 16)
    val q = corpus.filter(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSet
    val narrow = rows(Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
      nprobe = 1, rerank = 300))
    val wide = rows(Similarity.ivfPqIndexedTopK(spark, dir, q, k = 5,
      nprobe = 8, rerank = 300))
    // margin +2 makes the criterion unbeatable: every query escalates
    // and the result is EXACTLY the fixed-wide probe
    assert(rows(Similarity.ivfPqIndexedTopKAdaptive(spark, dir, q, k = 5,
      nprobe0 = 1, nprobeMax = 8, margin = 2.0, rerank = 300)) === wide)
    // margin −3 disables the cosine criterion; every query finds 5
    // hits in its top cell here, so nothing escalates: exactly narrow
    assert(rows(Similarity.ivfPqIndexedTopKAdaptive(spark, dir, q, k = 5,
      nprobe0 = 1, nprobeMax = 8, margin = -3.0, rerank = 300)) === narrow)
    // default margin: per-query sets are one of the two fixed probes'
    // (parity by construction), and recall vs exact never drops below
    // the narrow probe's — escalated queries probe a superset of cells
    val adapt = rows(Similarity.ivfPqIndexedTopKAdaptive(spark, dir, q,
      k = 5, nprobe0 = 1, nprobeMax = 8, rerank = 300))
    val exact = Similarity.bruteForceTopK(q, corpus, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long, Double, Long)]) =
      (s.map(r => (r._1, r._2)) & exact).size.toDouble / exact.size
    assert(recall(adapt) >= recall(narrow),
      s"adaptive recall ${recall(adapt)} fell below narrow ${recall(narrow)}")
    val byQ = adapt.groupBy(_._1)
    assert(byQ.forall { case (qid, s) =>
      val n = narrow.filter(_._1 == qid); val w = wide.filter(_._1 == qid)
      s == n || s == w
    }, "a query's adaptive rows match neither fixed probe")
  }

  test("fused adaptive probe ≡ two-pass, both dispatch arms, every escalation regime") {
    // r15 fusion (VERDICT r14 #1): one wide pass + narrow-prefix
    // selection must return EXACTLY the two-pass composition's rows.
    // The size-gate conf isolates the dispatch — 0 forces two-pass,
    // everything else identical — across margins that escalate
    // nothing (-3), some (0), all (+2).
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-fusedab"
    Similarity.buildIvfPqIndex(corpus, dir, nlist = 8, m = 8, ksub = 16,
      metaCols = Seq("label"))
    val key = "spark.graft.sim.fusedAdaptiveMaxBytes"
    def withMaxBytes[T](v: String)(f: => T): T = {
      spark.conf.set(key, v)
      try f finally spark.conf.unset(key)
    }
    // non-vacuous: the tiny fixture must be under the size gate, and
    // the conf knob must be able to force two-pass
    assert(Similarity.fusedAdaptiveEligible(spark, dir))
    assert(!withMaxBytes("0")(Similarity.fusedAdaptiveEligible(spark, dir)))
    // the conf is the only selector: a malformed value fails loudly
    // instead of silently picking two-pass
    val bad = withMaxBytes("1GiB")(intercept[IllegalArgumentException](
      Similarity.fusedAdaptiveEligible(spark, dir)))
    assert(bad.getMessage.contains(key) && bad.getMessage.contains("1GiB"))
    val q = corpus.filter(col("vec_id") < 30)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSet
    def both(f: => org.apache.spark.sql.DataFrame) =
      (rows(f), withMaxBytes("0")(rows(f)))
    for (m <- Seq(-3.0, 0.0, 2.0)) {
      val (fa, ta) = both(Similarity.ivfPqIndexedTopKAdaptive(spark, dir, q,
        k = 5, nprobe0 = 1, nprobeMax = 8, margin = m, rerank = 300))
      assert(fa === ta, s"adaptive arm diverged at margin=$m")
      assert(fa.nonEmpty)
      val (ff, tf) = both(Similarity.ivfPqIndexedTopKFiltered(spark, dir, q,
        predicate = col("label") === 3, k = 5, nprobe0 = 1, nprobeMax = 8,
        margin = m, rerank = 300))
      assert(ff === tf, s"filtered arm diverged at margin=$m")
      assert(ff.nonEmpty)
    }
  }

  test("calibrated margin escalates every sampled floor-misser; clustered fixture deterministic") {
    // the r10 configuration: the escalation margin comes from
    // calibrateAdaptiveMargin, whose contract is (a) every sampled
    // query that misses the recall floor at the narrow width has
    // gap < margin, i.e. WILL escalate under the calibrated value,
    // and (b) on an all-passing sample the safety quantile keeps a
    // small escalation reserve. Pinned on the clustered shape the
    // feature exists for.
    val emb = ClusteredFixture
      .frame(spark, n = 2000, dim = 32, nClusters = 10, noise = 0.35,
        bgFrac = 0.15, seed = 7L).localCheckpoint()
    // determinism under any partitioning: the generator is keyed by
    // vec_id, not by split (reruns/appends must see identical bytes)
    val again = ClusteredFixture
      .frame(spark, n = 2000, dim = 32, nClusters = 10, noise = 0.35,
        bgFrac = 0.15, seed = 7L).repartition(7)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .zip(again).forall { case ((i1, v1), (i2, v2)) =>
        i1 == i2 && v1.sameElements(v2) })
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-cal"
    Similarity.buildIvfPqIndex(emb, dir, nlist = 8, m = 8, ksub = 16)
    val sample = emb.filter(col("vec_id") % 7 === 1).orderBy("vec_id")
      .limit(128)
    val margin = Similarity.calibrateAdaptiveMargin(spark, dir, sample,
      k = 10, nprobe0 = 2, minHits = 5, rerank = 100)
    // (a) replay the calibration decision: under the returned margin,
    // every sampled query below the floor is in the escalation set
    val narrow = Similarity.ivfPqIndexedTopK(spark, dir, sample, k = 10,
      nprobe = 2, rerank = 100).localCheckpoint()
    val exact = Similarity.bruteForceTopK(sample, emb, k = 10)
      .select("q_id", "c_id")
    val failing = exact.join(
        narrow.select(col("q_id"), col("c_id"), lit(1).as("h")),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id").agg(sum(coalesce(col("h"), lit(0))).as("hits"))
      .filter(col("hits") < 5).select("q_id")
      .as[Long].collect().toSet
    val centroids = Similarity.readIndexCentroids(spark, dir)
    val escalated = Similarity.adaptiveEscalations(sample, narrow,
        centroids, k = 10, p0 = 2, margin = margin)
      .as[Long].collect().toSet
    assert(failing.subsetOf(escalated),
      s"calibrated margin $margin missed failing queries ${failing -- escalated}")
    // (b) and the adaptive probe at that margin matches the wide
    // probe's floor on the sample (floor-missers all escalated to the
    // wide result; everyone else held ≥5 narrow by definition)
    def minHits(res: org.apache.spark.sql.DataFrame): Long = exact.join(
        res.select(col("q_id"), col("c_id"), lit(1).as("h")),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id").agg(sum(coalesce(col("h"), lit(0))).as("hits"))
      .agg(min("hits")).head().getLong(0)
    val wideFloor = minHits(Similarity.ivfPqIndexedTopK(spark, dir, sample,
      k = 10, nprobe = 8, rerank = 100))
    val adaptFloor = minHits(Similarity.ivfPqIndexedTopKAdaptive(spark, dir,
      sample, k = 10, nprobe0 = 2, nprobeMax = 8, margin = margin,
      rerank = 100))
    assert(adaptFloor >= math.min(5L, wideFloor),
      s"adaptive floor $adaptFloor below min(5, wide=$wideFloor)")
  }

  test("adviseProbeMode: advice fields replay the decisions it measured") {
    // the recommendation is a packaged measurement, so every field
    // must be reproducible from the primitives it claims to have run:
    // the margin IS calibrateAdaptiveMargin's, the escalation
    // fraction IS adaptiveEscalations' count at that margin, and the
    // verdict/break-even ARE the marginal-cost comparison (walls are
    // box-dependent, so the spec pins consistency, not magnitudes)
    val emb = ClusteredFixture
      .frame(spark, n = 1500, dim = 32, nClusters = 8, noise = 0.35,
        bgFrac = 0.15, seed = 11L).localCheckpoint()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-advise"
    Similarity.buildIvfPqIndex(emb, dir, nlist = 8, m = 8, ksub = 16)
    val sample = emb.filter(col("vec_id") % 5 === 2).orderBy("vec_id")
      .limit(96)
    val advice = Similarity.adviseProbeMode(spark, dir, sample, k = 10,
      nprobe0 = 2, nprobeMax = 8, minHits = 5, rerank = 100)
    val margin = Similarity.calibrateAdaptiveMargin(spark, dir, sample,
      k = 10, nprobe0 = 2, minHits = 5, rerank = 100)
    assert(advice.margin === margin)
    val narrow = Similarity.ivfPqIndexedTopK(spark, dir, sample, k = 10,
      nprobe = 2, rerank = 100).localCheckpoint()
    val esc = Similarity.adaptiveEscalations(sample, narrow,
      Similarity.readIndexCentroids(spark, dir), k = 10, p0 = 2,
      margin = margin).count()
    assert(advice.escalationFraction === esc.toDouble / sample.count())
    // fitted costs are non-negative by the clamp contract
    assert(advice.adaptiveOverhead >= 0 && advice.adaptivePerQuery >= 0)
    assert(advice.wideOverhead >= 0 && advice.widePerQuery >= 0)
    // verdict consistency: marginal-cost regime decides; break-even
    // is finite exactly when adaptive's marginal is strictly cheaper
    if (advice.adaptivePerQuery < advice.widePerQuery) {
      assert(advice.recommendAdaptive)
      assert(advice.breakEvenQueries < Long.MaxValue)
    } else if (advice.adaptivePerQuery > advice.widePerQuery) {
      assert(!advice.recommendAdaptive)
      assert(advice.breakEvenQueries == Long.MaxValue)
    } else assert(advice.breakEvenQueries ==
      (if (advice.recommendAdaptive) 0L else Long.MaxValue),
      "on a marginal tie the break-even must agree with the recommendation")
    // a sample too small for the fit refuses loudly
    val tiny = intercept[IllegalArgumentException] {
      Similarity.adviseProbeMode(spark, dir, sample.limit(4), k = 10,
        nprobe0 = 2, nprobeMax = 8, minHits = 5, rerank = 100)
    }
    assert(tiny.getMessage.contains("two-point fit"))
  }

  test("describeIndex: per-segment footprint, frozen-model shape, epoch coherence") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-desc"
    Similarity.buildIvfPqIndex(evenBase, dir, nlist = 8, m = 8, ksub = 16)
    Similarity.appendToIvfPqIndex(spark, dir, oddBatch)
    val d = Similarity.describeIndex(spark, dir).collect()
    val segs = d.map(_.getAs[String]("seg")).toSet
    assert(d.length == 2 && segs.contains("base"), s"segments: $segs")
    // row accounting: base carries the build, the append its batch
    assert(d.map(_.getAs[Long]("rows")).sum === corpus.count())
    val base = d.find(_.getAs[String]("seg") == "base").get
    assert(base.getAs[Long]("rows") === evenBase.count())
    assert(base.getAs[Long]("cells") === 8L)
    assert(d.forall(r => r.getAs[Long]("files") >= r.getAs[Long]("cells")))
    assert(d.forall(_.getAs[Long]("bytes") > 0L))
    // index-level facts repeat on every row
    assert(d.forall(r => r.getAs[String]("model") == "ivfpq" &&
      r.getAs[Int]("nlist") == 8 && r.getAs[Int]("pq_m") == 8 &&
      r.getAs[Int]("pq_ksub") == 16 && r.getAs[Boolean]("epoch_coherent")))
    // compaction folds to one segment and describe tracks it
    Similarity.compactIndex(spark, dir)
    val folded = Similarity.describeIndex(spark, dir).collect()
    assert(folded.length == 1 &&
      folded.head.getAs[Long]("rows") === corpus.count())
    // a torn marker is REPORTED (not thrown): describe is the tool an
    // operator reaches for exactly when the index is suspect
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir + "/_graft_epoch"), true)
    out.write("torn-other-epoch".getBytes("UTF-8")); out.close()
    val torn = Similarity.describeIndex(spark, dir).collect()
    assert(torn.forall(!_.getAs[Boolean]("epoch_coherent")))
    // plain-IVF family: model reported without PQ shape
    val ivfDir = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-desc"
    Similarity.buildIvfIndex(evenBase, ivfDir, nlist = 8)
    val ivf = Similarity.describeIndex(spark, ivfDir).collect()
    assert(ivf.forall(r => r.getAs[String]("model") == "ivf" &&
      r.getAs[Int]("pq_m") == 0 && r.getAs[Boolean]("epoch_coherent")))
    // a build crashed BEFORE the centroid table committed (data tree
    // present, no model tables) is still reportable: model unknown,
    // nlist 0, and the data tree's orphan epoch marker makes the
    // incoherence visible — report-don't-refuse holds even here
    fs.rename(new org.apache.hadoop.fs.Path(ivfDir + "_centroids"),
      new org.apache.hadoop.fs.Path(ivfDir + "_centroids.hidden"))
    val midBuild = Similarity.describeIndex(spark, ivfDir).collect()
    assert(midBuild.nonEmpty && midBuild.forall(r =>
      r.getAs[String]("model") == "unknown" && r.getAs[Int]("nlist") == 0 &&
        !r.getAs[Boolean]("epoch_coherent")))
    fs.rename(new org.apache.hadoop.fs.Path(ivfDir + "_centroids.hidden"),
      new org.apache.hadoop.fs.Path(ivfDir + "_centroids"))
  }
}
