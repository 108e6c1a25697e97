package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.io.Commit
import scala.util.control.NonFatal

/** Similarity search over an `array<float>` embedding column
  * (north-star surface, SURVEY.md §2.11).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *    baseline. Query set broadcast against the corpus, norms
  *    precomputed, per-pair work is one fused dot product inside
  *    whole-stage codegen.
  *  - [[lshTopK]]: random-hyperplane LSH (sign sketch) — the scale
  *    path. Corpus is bucketed by signature once (an O(n) pass +
  *    one shuffle); each query probes only its own bucket and its
  *    1-bit-flip neighbors, so per-query cost is O(bucket), not O(n).
  */
object Similarity {

  /** Stream-side parallelism guard ([[Par.spread]]): a narrow corpus
    * scan serializes the scoring enumeration under a broadcast join
    * (sf1: ext_sim_topk 8.4→0.7 s, ext_sim_ivf 9.5→1.6 s,
    * ext_sim_lsh 3.6→1.2 s). */
  private def spread(df: DataFrame): DataFrame = Par.spread(df)

  /** Exact top-k neighbors for each query row. `queries` is expected
    * to be small (it is broadcast); ranking ties are broken on vec_id
    * so results are fully deterministic.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10): DataFrame = {
    // zero-norm embeddings are excluded on both sides: cosine would be
    // 0/0 = NaN, and Spark sorts NaN above every real double, so one
    // garbage vector would rank #1 for every query
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      normD(col("embedding")).as("q_nrm")).filter(col("q_nrm") > 0)
    val c = spread(corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      normD(col("embedding")).as("c_nrm")).filter(col("c_nrm") > 0))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dotD(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
      .select(col("q_id"), col("c_id"), col("cosine"))
    // bounded-heap top-k (TopK.topKByLongKey): each map partition is
    // reduced to ≤ k rows per query BEFORE the shuffle — the |corpus|
    // × |queries| scored stream never shuffles or sorts, which is the
    // difference between O(k·parts·queries) and O(n·queries) exchange
    // rows at 100 TB.
    TopK.topKByLongKey(scored, "q_id", "cosine", "c_id", k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  /** Trained coarse-quantizer centroids, cached per (corpus plan,
    * nlist, seed) — an IVF index is built once and reused across
    * queries, exactly like a persisted index in a real vector store.
    * Keyed by the corpus' semantic plan hash; re-reads of changed
    * underlying data with an identical plan must invalidate by hand
    * ([[clearIvfIndexCache]]).
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()

  def clearIvfIndexCache(): Unit = ivfIndexCache.clear()

  private[graft] def ivfCentroids(corpus: DataFrame, nlist: Int, seed: Long): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val key = (corpus.queryExecution.analyzed.semanticHash(), nlist, seed)
    ivfIndexCache.computeIfAbsent(key, _ => {
      // coarse quantizer quality needs only a sample; cap the fit
      // input, but keep ≥ 20 rows per requested centroid so a large
      // adaptive nlist (Dedup.semParams at big corpora) still trains
      // meaningful cells instead of starving them. The sample is made
      // DETERMINISTIC by ordering on vec_id before the limit (a bare
      // limit takes whatever partitions schedule first, so centroids —
      // and every recall measurement built on them — would drift
      // across cluster configurations despite the fixed seed); the
      // orderBy+limit pair plans as TakeOrderedAndProject (bounded
      // per-partition heaps, no full sort materialization).
      // TWO fit regimes, switched at nlist 512 so everything at or
      // below the recorded gate scales (nlist=16 at sf≤0.1, 80/400 at
      // sf1/sf5) keeps the EXACT pre-round plan — init mode, sample
      // partitioning, iteration count — and therefore bit-identical
      // centroids and recall floors (an A/B at sf5/θ=0.6 measured the
      // per-label floor move 0.71→0.57 from nothing but re-spreading
      // the k-means|| sample, so the small-k path must not change).
      //
      // Large nlist (≥ 512, the adaptive-semParams regime at sf25+):
      //  - k-means||'s LOCAL init k-means is O(k²·dim·localIters) on
      //    ONE driver core — 66 s of a 118 s semantic pass at k=2000.
      //    Random init + Lloyd on the 20·k sample is the standard
      //    coarse-quantizer recipe (FAISS trains IVF this way).
      //  - the orderBy+limit sample plans as TakeOrderedAndProject
      //    whose output is ONE partition — every Lloyd distance pass
      //    runs single-threaded (42 s at k=2000). Re-spread over a
      //    FIXED width so the fit parallelizes identically on any
      //    cluster layout (round-robin from one sorted partition is
      //    deterministic), and spend the savings on twice the Lloyd
      //    iterations for cluster quality.
      val big = nlist >= 512
      val sample = corpus.select(col("vec_id"),
          array_to_vector(col("embedding")).as("features"))
        .orderBy(col("vec_id")).limit(math.max(10000, 20 * nlist))
      val model = new KMeans().setK(nlist).setSeed(seed)
        .setMaxIter(if (big) 10 else 5)
        .setInitMode(if (big) "random" else "k-means||")
        .fit((if (big) sample.repartition(64) else sample)
          .select(col("features")))
      model.clusterCenters.map(_.toArray)
    })
  }

  /** Centroid ranking per row: argmin ||x-c||² ⇔ argmax (x·c − ||c||²/2),
    * nearest `k` cells first, ties on the lower cell — one fused
    * codegen loop ([[graft.functions.TopCellsExpr]]; the composed
    * `array_sort(array(struct(...)))` spelling materialized and
    * sorted nlist structs PER ROW and dominated corpus-side
    * assignment at production nlist — ~120 s for a 100k-row pass at
    * 400 cells where the dot products cost seconds. Bit-identical
    * ordering, so recall measurements carry over). Shared by the
    * ad-hoc and indexed IVF paths so cell assignment cannot drift
    * between them.
    */
  private def topCells(emb: org.apache.spark.sql.Column,
                       centroids: Array[Array[Double]], k: Int) = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.TopCellsExpr(centroids, k, toExpr(emb)))
  }

  /** Corpus side of both IVF paths: nearest cell + norm, zero-norm
    * rows dropped (cosine would be NaN and NaN sorts above reals).
    *
    * Spread BEFORE the assignment projection: a projection pipelines
    * into the scan stage, so without it the argmin over nlist
    * centroids (nlist·dim madds per row) runs at raw scan width — a
    * bench-sized parquet corpus is 1–2 splits, and the sf25 index
    * builds measured ~250 s mostly in a two-core assignment pass. At
    * real scale the scan is already wide and spread is a no-op. */
  private[graft] def ivfCorpusSide(corpus: DataFrame,
                                   centroids: Array[Array[Double]],
                                   metaCols: Seq[String] = Nil): DataFrame =
    spread(corpus).select(col("vec_id").as("c_id") +:
        col("embedding").as("c_emb") +:
        normD(col("embedding")).as("c_nrm") +:
        topCells(col("embedding"), centroids, 1).getItem(0).as("cell") +:
        metaCols.map(col): _*)
      .filter(col("c_nrm") > 0)

  /** Query side of both IVF paths: one row per (query, probed cell). */
  private[graft] def ivfProbeSide(queries: DataFrame, centroids: Array[Array[Double]],
                                  nprobe: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normD(col("embedding")).as("q_nrm"),
        explode(topCells(col("embedding"), centroids,
          math.min(nprobe, centroids.length))).as("cell"))
      .filter(col("q_nrm") > 0)

  /** [[ivfProbeSide]] with the probe POSITION kept: `cell_rank` is the
    * 1-based index of `cell` in the query's probe order, so a
    * downstream filter `cell_rank <= p0` recovers EXACTLY the
    * narrow-width probe side from one wide explode — the prefix
    * property the fused adaptive probe's row-identity proof rests on
    * (topCells returns the p nearest cells in probe order, so the
    * top-p0 set is literally the first p0 elements of the top-pMax
    * array). */
  private def ivfProbeSideRanked(queries: DataFrame,
                                 centroids: Array[Array[Double]],
                                 nprobe: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normD(col("embedding")).as("q_nrm"),
        posexplode(topCells(col("embedding"), centroids,
          math.min(nprobe, centroids.length))).as(Seq("cell_pos", "cell")))
      .filter(col("q_nrm") > 0)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("cell"),
        (col("cell_pos") + 1).as("cell_rank"))

  /** Cell-join + exact rerank shared by [[ivfTopK]] and
    * [[ivfIndexedTopK]] — one definition so the two paths return
    * identical rows by construction. No dedup needed: a corpus row
    * lives in exactly one cell, so a (query, corpus) pair joins at
    * most once.
    */
  private def ivfScoreRank(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    // callers pass an already-wide corpus side (ivfCorpusSide spreads
    // before assignment; ivfIndexedTopK spreads its pruned index
    // read) — spreading here again would estimate width from the raw
    // scan leaves and re-exchange corpus-sized rows for nothing
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dotD(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
    // bounded-heap top-k — map-side reduction, no candidate sort
    // (see bruteForceTopK)
    TopK.topKByLongKey(scored.select(col("q_id"), col("c_id"), col("cosine")),
        "q_id", "cosine", "c_id", k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  /** IVF-style approximate top-k: a coarse quantizer (MLlib KMeans,
    * fixed seed) partitions the corpus into `nlist` cells; each query
    * probes its `nprobe` nearest centroids and reranks exactly within
    * those cells. The 100 TB shape: centroids broadcast (tiny), the
    * corpus is written partitioned by cell once ([[buildIvfIndex]]),
    * and a query touches nprobe/nlist of the data.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 3, seed: Long = 42L): DataFrame = {
    val centroids = ivfCentroids(corpus, nlist, seed)
    ivfScoreRank(ivfCorpusSide(corpus, centroids),
      ivfProbeSide(queries, centroids, nprobe), k)
  }

  /** Persist the corpus as an IVF index: fit the coarse quantizer
    * once, write the corpus PARTITIONED BY cell (a directory per
    * cell, so a probe's cell filter prunes at the file listing — no
    * data read outside the probed cells) and the centroid table
    * alongside (`<dir>_centroids`, nlist tiny rows). Build cost is
    * one KMeans sample fit + one partitioned write; after that every
    * query reads nprobe/nlist of the data — the index-once /
    * query-many shape [[ivfTopK]]'s doc promises.
    */
  def buildIvfIndex(corpus: DataFrame, dir: String, nlist: Int = 16,
                    seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, nlist, seed)
    // cluster by cell before the partitioned write: without it every
    // write task holds rows of ~all cells and emits tasks×nlist files
    // (measured 279 s at sf25 — 32 tasks × 2000 cells ≈ 64k parquet
    // files, pure file-open overhead). Hash-clustered, each cell lands
    // wholly in one task ⇒ exactly nlist files, and the same shuffle
    // is what a 1000-executor build needs anyway (no task reads all
    // centroids' rows).
    // Second partition level `seg` (constant "base" at build): the
    // unit of exactly-once APPEND — a replayed append overwrites its
    // own (seg, cell) partitions and nothing else. seg is the OUTER
    // level: partition pruning on cell is value-based and works at
    // any nesting depth, but directory COUNT is level-order-sensitive
    // — cell-outer nests one seg dir under every cell (nlist extra
    // dirs per segment: +20% write / +8% probe in the controlled A/B,
    // tools.LayoutAbProbe at nlist=400), while seg-outer measures
    // IDENTICAL to the un-segmented layout (1.32 vs 1.32 s write,
    // 0.95 vs 0.95 s probe) and keeps each ingest batch's files
    // co-located (the natural unit for retention or compaction).
    ivfCorpusSide(corpus, centroids)
      .withColumn("seg", lit("base"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("seg", "cell").parquet(dir)
    centroids.zipWithIndex.map { case (arr, i) => (i, arr.toSeq) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(dir.stripSuffix("/") + "_centroids")
    stampFreshEpoch(spark, dir, Seq("_centroids"))
    clearTombstones(spark, dir)
    stampSegMeta(spark, dir, "base")
  }

  /** Top-k against a [[buildIvfIndex]] directory. Centroids are read
    * back (nlist rows — trivially collectible), the probed cell ids
    * (bounded by nlist, NOT by |queries|) are pushed as a partition
    * filter, and the scan prunes to the probed cell directories
    * (`PartitionFilters` in the scan, asserted in `SimilaritySpec`).
    * Same rows as [[ivfTopK]] with the same (nlist, nprobe, seed) by
    * construction — both paths share cell assignment and rerank.
    */
  def ivfIndexedTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                     queries: DataFrame, k: Int = 10, nprobe: Int = 3): DataFrame = {
    requireEpochCoherent(spark, dir, Seq("_centroids"))
    val centroids = readIndexCentroids(spark, dir)
    val q = ivfProbeSide(queries, centroids, nprobe)
    // distinct probed cells: ≤ nlist ints, safe to collect regardless
    // of the query count
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val c = spread(excludeTombstoned(spark.read.parquet(dir)
      .filter(col("cell").isin(probed.toSeq.map(Int.box): _*))
      .select(col("c_id"), col("c_emb"), col("c_nrm"), col("cell")),
      tombstones(spark, dir), "c_id"))
    ivfScoreRank(c, q, k)
  }

  // ---------------------------------------------------------------- //
  // Product quantization (PQ)                                        //
  // ---------------------------------------------------------------- //

  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long), graft.functions.Pq.Codebooks]()

  def clearPqCodebookCache(): Unit = pqCodebookCache.clear()

  /** Per-subspace codebooks via deterministic Lloyd's k-means on a
    * bounded corpus sample (10k vectors ≈ 2.5 MB — same sample-fit
    * shape as [[ivfCentroids]]; production fits on a sample too).
    * Init = evenly strided sample points (deterministic, no RNG);
    * empty clusters keep their previous centroid. Cached per
    * (corpus plan, m, ksub, seed) like the IVF index.
    */
  private def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                          seed: Long): graft.functions.Pq.Codebooks = {
    val key = (corpus.queryExecution.analyzed.semanticHash(), m * 1000 + ksub, m, seed)
    pqCodebookCache.computeIfAbsent(key, _ => {
      // deterministic sample: orderBy before the limit (same rationale
      // as ivfCentroids — a bare limit depends on partition scheduling
      // and would let codebooks drift across cluster layouts)
      val sample: Array[Array[Double]] = corpus
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(10000)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        .filter(_.exists(_ != 0.0))
      require(sample.nonEmpty, "pq fit: empty corpus sample")
      val dim = sample.map(_.length).max
      require(dim % m == 0, s"pq fit: dim $dim not divisible by m=$m")
      val dsub = dim / m
      Array.tabulate(m) { j =>
        val sub = sample.map { v =>
          Array.tabulate(dsub)(t =>
            if (j * dsub + t < v.length) v(j * dsub + t) else 0.0)
        }
        val cents = Array.tabulate(ksub)(r =>
          sub(((r.toLong * sub.length) / ksub).toInt).clone())
        var it = 0
        while (it < 10) {
          val sums = Array.fill(ksub)(new Array[Double](dsub))
          val counts = new Array[Long](ksub)
          sub.foreach { v =>
            var best = 0; var bestD = Double.MaxValue
            var r = 0
            while (r < ksub) {
              var d = 0.0; var t = 0
              while (t < dsub) { val x = v(t) - cents(r)(t); d += x * x; t += 1 }
              if (d < bestD) { bestD = d; best = r }
              r += 1
            }
            counts(best) += 1
            var t = 0
            while (t < dsub) { sums(best)(t) += v(t); t += 1 }
          }
          var r = 0
          while (r < ksub) {
            if (counts(r) > 0) {
              var t = 0
              while (t < dsub) { cents(r)(t) = sums(r)(t) / counts(r); t += 1 }
            }
            r += 1
          }
          it += 1
        }
        cents
      }
    })
  }

  /** PQ-ADC approximate top-k: the corpus compresses to m-byte codes
    * (256 B float32 → 8 B at the defaults, dim 64), the similarity
    * scan runs over CODES via per-query lookup tables
    * ([[graft.functions.PqAdcExpr]] — m adds per candidate, raw
    * vectors untouched), the per-query ADC top-`rerank` candidates
    * are fetched back by id (a candidate-sized join, NOT a corpus
    * scan) and reranked exactly. The 100 TB shape: 100 TB of vectors
    * is ~3 TB of codes — the scan-everything tier shrinks 32×, and
    * raw embeddings are only read for rerank·|queries| rows. Compose
    * with the IVF cell partitioning ([[buildIvfIndex]]) to prune the
    * code scan itself (classic IVF-PQ).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
             m: Int = 8, ksub: Int = 16, rerank: Int = 50,
             seed: Long = 42L): DataFrame =
    queryChunks(queries, rerank)
      .map(qc => pqTopKChunk(qc, corpus, k, m, ksub, rerank, seed))
      .reduce(_.unionByName(_))

  /** Registry of the ad-hoc scan tiers' persisted code tables
    * ([[pqTopK]]/[[binaryTopK]] — encode-once-scan-many plans that
    * MUST be materialized or BroadcastNestedLoopJoin codegen re-runs
    * the encode per candidate PAIR, the r10 5–7× defect), keyed by
    * (canonicalized corpus plan, tier parameters). The MEMO is the
    * dedup — Spark's own CacheManager CANNOT dedup these plans: the
    * encode expressions carry plane/codebook ARRAYS whose case-class
    * equality is by reference, so two calls over the same corpus
    * build plans `sameResult` rejects and each would persist its own
    * copy (worse than the r10 ADVICE's already-cached-warning
    * reading: repeat calls on ONE corpus leaked one entry per call).
    * Returning the one memoized DataFrame makes every chunk and
    * every later call hit the identical plan object. Entries live
    * until [[releaseScanCaches]] — MEMORY_AND_DISK evicts under
    * pressure, so growth is a footprint concern, not correctness,
    * but a long-lived session cycling many corpora should release
    * between them. Staleness contract matches any persisted plan:
    * rewriting the corpus's files under the same path serves the
    * cached codes until release.
    */
  private val scanCaches =
    scala.collection.mutable.LinkedHashMap.empty[(Int, String, String), DataFrame]

  private def scanTierCached(corpus: DataFrame, tierKey: String)
                            (build: => DataFrame): DataFrame = synchronized {
    // semanticHash + canonical plan text: the text alone can elide
    // fields past spark.sql.debug.maxToStringFields; the hash alone
    // can collide — together they key the corpus identity safely
    val key = (corpus.semanticHash(),
      corpus.queryExecution.analyzed.canonicalized.toString, tierKey)
    // the registry is JVM-global but each entry is bound to the
    // session that built it: after that session stops, serving the
    // entry to a NEW session in the same JVM fails on a stopped
    // SparkContext (r11 ADVICE) — treat dead-session entries as
    // absent and rebuild against the live session
    scanCaches.get(key)
      .filterNot(_.sparkSession.sparkContext.isStopped)
      .getOrElse {
        val df = build
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        scanCaches.put(key, df)
        df
      }
  }

  /** Drop every scan-tier cache [[pqTopK]]/[[binaryTopK]] registered
    * this JVM — the release hook for sessions that query many
    * distinct ad-hoc corpora (the persisted-index paths store their
    * codes on disk and never enter this registry). Blocking=false:
    * in-flight jobs over a released plan still complete; the next
    * call over the same corpus simply re-encodes and re-persists.
    */
  def releaseScanCaches(): Unit = synchronized {
    // best-effort per entry: an unpersist against a stopped session
    // throws, and one dead entry must not leave the LIVE entries
    // behind it pinned in the map (r11 ADVICE — clear() always runs)
    scanCaches.values
      .foreach(df => scala.util.Try(df.unpersist(false)))
    scanCaches.clear()
  }

  /** Live scan-tier cache count — observability for the release
    * hook's tests and for an operator deciding whether a long-lived
    * session needs a release.
    */
  def scanCacheCount: Int = synchronized { scanCaches.size }

  /** Map-side selection-state bound for the rerank-tier top-k. The
    * candidate selection keeps a 16·rerank-byte buffer PER QUERY PER
    * TASK (graft_top_k_pairs partial aggregation), so an unbounded
    * query set multiplies into executor heap: the catalog's
    * corpus-proportional sweep at sf25 (10k queries × rerank 10k ×
    * 32 tasks ≈ 50 GB of buffers on an 8 GB heap) killed the
    * SparkContext outright. Queries split into deterministic hash
    * chunks sized so per-task selection state stays ≤ `budgetBytes`;
    * each chunk re-scans the (tiny) code tier, per-query results
    * never cross chunks, so the union is row-identical to the
    * unchunked plan (asserted in SimilaritySpec). Resolves to ONE
    * chunk at every gate scale and for any point-lookup query set —
    * the production shape pays nothing.
    */
  private[graft] def queryChunks(queries: DataFrame, rerank: Int,
                                 budgetBytes: Long = 256L << 20): Seq[DataFrame] =
    chunkFrames(queries, chunkCountFor(queries.count(), rerank, budgetBytes))

  /** Chunk count for `nq` queries under the selection-state budget —
    * split out of [[queryChunks]] so callers that already paid a pass
    * over the query side (the IVF-PQ probe's fused stats job) can
    * reuse its count instead of running a second one. */
  private[graft] def chunkCountFor(nq: Long, rerank: Int,
                                   budgetBytes: Long = 256L << 20): Int =
    math.max(1L,
      (nq * rerank.toLong * 16L + budgetBytes - 1) / budgetBytes).toInt

  /** Deterministic hash partition of the query set into `chunks`
    * frames; results per query never cross chunks, so the union is
    * row-identical to the unchunked plan for ANY chunk count ≥ 1. */
  private[graft] def chunkFrames(queries: DataFrame, chunks: Int): Seq[DataFrame] =
    if (chunks == 1) Seq(queries)
    else (0 until chunks).map(i =>
      queries.filter(pmod(xxhash64(col("vec_id")), lit(chunks)) === i))

  private def pqTopKChunk(queries: DataFrame, corpus: DataFrame, k: Int,
                          m: Int, ksub: Int, rerank: Int,
                          seed: Long): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.{PqAdcExpr, PqEncodeExpr}
    val cbs = pqCodebooks(corpus, m, ksub, seed)
    // code table: (c_id, 8-byte code) — the only thing the scan
    // reads. Spread BEFORE the encode projection (m·ksub·dsub madds
    // per row) so it runs wide, not at raw scan width. PERSISTED for
    // the same reason as binaryTopKChunk's code table: the non-equi
    // candidate join is a BroadcastNestedLoopJoin whose codegen
    // defers the unevaluated encode projection into the per-pair
    // loop — unpersisted, the m·ksub·dsub-madd encode re-ran per
    // candidate (4× smaller constant than the binary tier's signing,
    // so it hid inside the sweep numbers instead of dominating them).
    // scanTierCached: one memoized plan per (corpus, pq params) per
    // JVM, released via releaseScanCaches (r10 ADVICE — unbounded
    // growth over many corpora).
    val codes = scanTierCached(corpus, s"pq:$m:$ksub:$seed") {
      spread(corpus)
        .select(col("vec_id").as("c_id"),
          toCol(PqEncodeExpr(toExpr(col("embedding")), cbs)).as("code"),
          normD(col("embedding")).as("c_nrm"))
        .filter(col("c_nrm") > 0).drop("c_nrm")
    }
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      normD(col("embedding")).as("q_nrm")).filter(col("q_nrm") > 0)
    val scored = codes.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("adc", toCol(PqAdcExpr(toExpr(col("q_id")), toExpr(col("q_emb")),
        toExpr(col("code")), cbs)))
      .select(col("q_id"), col("c_id"), col("adc"))
    val cands = TopK.topKByLongKey(scored, "q_id", "adc", "c_id", rerank)
      .select("q_id", "c_id")
    exactRerank(cands, corpus, q, k)
  }

  /** Exact-rerank tier shared by [[pqTopK]] and [[ivfPqTopK]]:
    * candidates fetch their raw vectors by id (a candidate-sized
    * join, not a corpus scan) and the final top-k ranks true cosine.
    * One definition so the two PQ paths cannot drift.
    */
  private def exactRerank(cands: DataFrame, corpus: DataFrame,
                          q: DataFrame, k: Int): DataFrame = {
    val fetched = cands
      .join(corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        normD(col("embedding")).as("c_nrm")), Seq("c_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine",
        round(dotD(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
      .select(col("q_id"), col("c_id"), col("cosine"))
    TopK.topKByLongKey(fetched, "q_id", "cosine", "c_id", k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  /** ZERO-TRAINING binary scan tier (SimHash estimator, Charikar
    * 2002 / Goemans–Williamson: P[sign differs] = angle/π): every
    * vector compresses to `nBits` random-hyperplane signs packed
    * 62-per-BIGINT into a small fixed array
    * ([[graft.functions.SignBandsExpr]] per word — the banded-LSH
    * signing loop reused as-is; default 248 bits = 4 words = 32 B,
    * 8× smaller than the 256 B raw vector). The similarity scan
    * ranks candidates by Hamming distance — `words` xor+bit_count
    * ops per candidate via `zip_with`/`aggregate` over the 4-element
    * array, the cheapest scan arithmetic any tier here has — and the
    * per-query top-`rerank` candidates fetch their raw vectors for
    * exact cosine rerank (the [[pqTopK]] rerank tier, shared).
    *
    * Why not fewer bits: Hamming over b bits takes only b+1 distinct
    * values, so at 62 bits a growing corpus piles ties onto the
    * rerank boundary and recall decays with n (measured min hits
    * 2-of-top-10 at just 2k uniform vectors); 248 bits quarters the
    * estimator variance and keeps the tie plateaus thin. Where it
    * sits in the family: PQ at 8 B approximates the dot product
    * through trained codebooks and wins recall-per-byte on
    * structured corpora; the sign code needs NO training pass — no
    * model to fit, persist, refit on drift, or epoch-guard — so it
    * is the right FIRST tier when the corpus churns faster than a
    * quantizer should be refitted, or the cheap pre-filter in front
    * of an exact or PQ rerank. Distinct from [[lshTopK]], which
    * BUCKETS by sign bits and reads only colliding buckets: the scan
    * form pays the full (codes × queries) pass but has no
    * bucket-miss recall cliff — brute force's recall robustness at
    * 1/8 of its scan bytes. At 100 TB of raw vectors the code table
    * is ~12.5 TB and the rerank tier touches rerank·|queries| rows —
    * the [[pqTopK]] economics with the fit-free trade above.
    * Query-set growth is bounded by the same [[queryChunks]] budget
    * as the PQ family (per-task selection state, chunk-union
    * row-identical).
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                 nBits: Int = 248, rerank: Int = 50, seed: Long = 42L,
                 dim: Int = 64): DataFrame =
    queryChunks(queries, rerank)
      .map(qc => binaryTopKChunk(qc, corpus, k, nBits, rerank, seed, dim))
      .reduce(_.unionByName(_))

  private def binaryTopKChunk(queries: DataFrame, corpus: DataFrame,
                              k: Int, nBits: Int, rerank: Int, seed: Long,
                              dim: Int): DataFrame = {
    import graft.functions.VectorFunctions.signBands
    val planes = hyperplanes(nBits, dim, seed)
    // 62-bit words: each is one fused SignBandsExpr signing pass
    val blocks = planes.grouped(62).toSeq
    def sig(c: org.apache.spark.sql.Column) =
      array(blocks.map(b => signBands(c, b)): _*)
    // code table: (c_id, words·8-byte sign code) — all the scan
    // reads. PERSISTED (plan-keyed, memory-and-disk) because the
    // non-equi candidate join compiles to BroadcastNestedLoopJoin,
    // whose codegen defers unevaluated stream-side projection
    // variables into the per-build-row loop — unpersisted, the
    // 248-plane signing re-ran PER CANDIDATE PAIR (measured 16 s of
    // a 17 s sf1 selection stage; the materialized twin ran 1.0 s).
    // The cache boundary evaluates each row ONCE at fill, and
    // encode-once-scan-many is this tier's design anyway — the same
    // once-per-JVM precedent as the cached PQ codebooks and IVF
    // fits. scanTierCached: one memoized plan per (corpus, signing
    // params) per JVM, released via releaseScanCaches (r10 ADVICE).
    val codes = scanTierCached(corpus, s"binary:$nBits:$seed:$dim") {
      spread(corpus)
        .select(col("vec_id").as("c_id"), sig(col("embedding")).as("c_sig"),
          normD(col("embedding")).as("c_nrm"))
        .filter(col("c_nrm") > 0).drop("c_nrm")
    }
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), normD(col("embedding")).as("q_nrm"))
      .filter(col("q_nrm") > 0)
    val qs = q.select(col("q_id"), sig(col("q_emb")).as("q_sig"))
    // negated Hamming so the shared max-heap top-k keeps the closest;
    // graft_hamming is the codegen'd word loop (the HOF form
    // interpreted two lambdas per candidate pair — 289 s at the sf1
    // catalog config for a scan whose PQ-ADC twin runs seconds)
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val scored = codes.join(broadcast(qs), col("q_id") =!= col("c_id"))
      .withColumn("nham",
        -toCol(graft.functions.HammingExpr(toExpr(col("c_sig")),
          toExpr(col("q_sig")))).cast("double"))
      .select(col("q_id"), col("c_id"), col("nham"))
    val cands = TopK.topKByLongKey(scored, "q_id", "nham", "c_id", rerank)
      .select("q_id", "c_id")
    exactRerank(cands, corpus, q, k)
  }

  /** Persist the binary scan tier: ONE self-contained table carrying
    * (c_id, packed sign code, vector), plus `<dir>_meta` holding
    * (nbits, dim, seed) — the planes are deterministic from the seed
    * ([[hyperplanes]]), so a query session reconstructs the signing
    * from three scalars; a probe whose params drifted from the
    * stored code table would silently rank noise, which is why the
    * meta travels WITH the index (the LSH family's `<table>_meta`
    * rule). The scan tier reads ONLY (c_id, c_sig) — parquet column
    * pruning keeps the 256 B vectors on disk (spec-asserted
    * ReadSchema) — and the exact rerank re-reads the SAME table
    * pruned to (c_id, embedding) for just the candidate ids. Codes
    * are STORED, not recomputed, so the steady-state probe pays
    * Hamming + rerank only; at 100 TB of vectors the scan tier is
    * the ~12.5 TB code columns. Zero-norm vectors are excluded at
    * build like the ad-hoc path (their cosine is NaN-undefined).
    */
  def buildBinaryIndex(corpus: DataFrame, dir: String, nBits: Int = 248,
                       seed: Long = 42L, dim: Int = 64,
                       metaCols: Seq[String] = Nil): Unit = {
    import graft.functions.VectorFunctions.signBands
    val spark = corpus.sparkSession
    val blocks = hyperplanes(nBits, dim, seed).grouped(62).toSeq
    // seg-partitioned like the IVF families (base = the build), so
    // streaming appends get run-scoped dynamic-overwrite segments —
    // the exactly-once construction ([[appendToBinaryIndex]]) — and
    // compaction/describe see one layout across all three families.
    // `metaCols` stores extra metadata columns WITH the codes so
    // [[binaryIndexedTopK]]'s predicate pushes into the parquet scan
    // (the filtered-search path) — they cost their width at build
    // and nothing on unfiltered probes (column pruning).
    spread(corpus)
      .select(col("vec_id").as("c_id") +:
        array(blocks.map(b => signBands(col("embedding"), b)): _*).as("c_sig") +:
        col("embedding") +: normD(col("embedding")).as("c_nrm") +:
        metaCols.map(col): _*)
      .filter(col("c_nrm") > 0).drop("c_nrm")
      .withColumn("seg", lit("base"))
      .write.mode("overwrite").partitionBy("seg").parquet(dir)
    import spark.implicits._
    Seq((nBits, dim, seed)).toDF("nbits", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(dir + "_meta")
    // the torn-swap signature the guard catches here: a crashed
    // rebuild-with-different-params leaves old codes beside a new
    // meta (or vice versa) — Hamming over codes signed with other
    // planes ranks NOISE with no error anywhere
    stampFreshEpoch(spark, dir, Seq("_meta"))
    clearTombstones(spark, dir)
    stampSegMeta(spark, dir, "base")
  }

  /** Probe a [[buildBinaryIndex]] table: identical rows to the
    * ad-hoc [[binaryTopK]] at the same (nBits, dim, seed) by
    * construction — stored codes equal recomputed codes because the
    * signing is deterministic, and both paths share the rerank tier
    * — so the persisted form is a pure I/O-shape change: the scan
    * reads 32 B stored codes instead of signing 256 B vectors per
    * call. Query-set growth bounded by the same [[queryChunks]]
    * budget as the rest of the family.
    */
  def binaryIndexedTopK(spark: org.apache.spark.sql.SparkSession,
                        dir: String, queries: DataFrame, k: Int = 10,
                        rerank: Int = 50,
                        predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import graft.functions.VectorFunctions.signBands
    requireEpochCoherent(spark, dir, Seq("_meta"))
    val blocks = readBinaryBlocks(spark, dir)
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    // FILTERED search ([[buildBinaryIndex]]'s `metaCols`): the
    // predicate restricts the corpus BEFORE Hamming candidate
    // selection — applied to the stored rows, it reaches the parquet
    // scan as a pushed filter (spec-asserted), so selection ranks
    // only qualifying rows and every query still gets k results.
    // Post-filtering the unfiltered top-k instead silently
    // under-returns: a 1 % predicate leaves ~k/100 survivors.
    val tomb = tombstones(spark, dir)
    def qualify(df: DataFrame) =
      excludeTombstoned(predicate.fold(df)(df.filter), tomb, "c_id")
    // scan tier: stored codes only — the vector column stays on disk
    val codes = qualify(spark.read.parquet(dir))
      .select(col("c_id"), col("c_sig"))
    val rerankCorpus = qualify(spark.read.parquet(dir))
      .select(col("c_id").as("vec_id"), col("embedding"))
    queryChunks(queries, rerank).map { qc =>
      val q = qc.select(col("vec_id").as("q_id"),
          col("embedding").as("q_emb"), normD(col("embedding")).as("q_nrm"))
        .filter(col("q_nrm") > 0)
      val qs = q.select(col("q_id"),
        array(blocks.map(b => signBands(col("q_emb"), b)): _*).as("q_sig"))
      val scored = codes.join(broadcast(qs), col("q_id") =!= col("c_id"))
        .withColumn("nham",
          -toCol(graft.functions.HammingExpr(toExpr(col("c_sig")),
            toExpr(col("q_sig")))).cast("double"))
        .select(col("q_id"), col("c_id"), col("nham"))
      val cands = TopK.topKByLongKey(scored, "q_id", "nham", "c_id", rerank)
        .select("q_id", "c_id")
      exactRerank(cands, rerankCorpus, q, k)
    }.reduce(_.unionByName(_))
  }

  /** Append a batch to a [[buildBinaryIndex]] table. The binary tier
    * is the one index family with NO frozen-model caveat: the planes
    * are data-independent (deterministic from the stored seed), so
    * an appended row gets byte-identical codes to a full rebuild —
    * append-forever with zero drift, no refit ever needed. O(batch)
    * compute, zero-norm rows excluded like the build.
    *
    * `seg` picks the retry semantics exactly like
    * [[appendToIvfIndex]] — the binary family's pitch (no model to
    * refit: the churning-corpus tier) makes it the family MOST
    * likely to sit under a stream, so it gets the same
    * exactly-once construction, not a replay caveat (r10 VERDICT
    * #1):
    *  - `None` (bulk/ad-hoc): append under a fresh random segment; a
    *    failed-and-retried append can leave duplicates (rebuild or
    *    dedup-verify on failure).
    *  - `Some(id)` (the streaming layer — [[graft.etl.IndexIngest]]
    *    passes its run-scoped `runTag-batchId`): dynamic partition
    *    OVERWRITE of exactly the seg partition the batch writes.
    *    Signing is deterministic from the stored seed, so a replay
    *    recomputes the identical partition and overwrites itself in
    *    place.
    */
  def appendToBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, batch: DataFrame,
                          seg: Option[String] = None): Unit = {
    import graft.functions.VectorFunctions.signBands
    healIndex(spark, dir)
    requireEpochCoherent(spark, dir, Seq("_meta"))
    // a PRE-SEGMENTATION flat tree (data files at the root, no seg=
    // dirs — the layout describeIndex reports as one synthetic
    // "(flat)" segment) cannot take a partitioned append: the write
    // would leave files both at the root and under seg= dirs, and
    // every later read fails partition discovery with an error far
    // from this write (r11 ADVICE). Fail HERE, with the migration.
    val rootPath = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"))
    val rootFs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!rootFs.listStatus(rootPath).exists(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")),
      s"appendToBinaryIndex: $dir holds root-level data files (a " +
        "pre-segmentation flat layout) — appending seg= partitions " +
        "beside them would break every subsequent read's partition " +
        "discovery. Migrate first: rebuild with buildBinaryIndex, or " +
        "run compactBinaryIndex after moving the flat files under a " +
        "seg=base/ directory.")
    val blocks = readBinaryBlocks(spark, dir)
    // an index built with `metaCols` stores metadata beside the
    // codes; appended rows must carry the SAME columns or the mixed
    // file schemas would surface nulls under the filtered probe —
    // derive the stored set from the live schema and require it of
    // the batch (a missing column fails analysis loudly here)
    val storedMeta = spark.read.parquet(dir).schema.fieldNames
      .filterNot(Set("c_id", "c_sig", "embedding", "seg")).toSeq
    val segVal = seg.getOrElse(
      "adhoc-" + java.util.UUID.randomUUID.toString.take(8))
    val tagged = batch
      .select(col("vec_id").as("c_id") +:
        array(blocks.map(b => signBands(col("embedding"), b)): _*).as("c_sig") +:
        col("embedding") +: normD(col("embedding")).as("c_nrm") +:
        storedMeta.map(col): _*)
      .filter(col("c_nrm") > 0).drop("c_nrm")
      .withColumn("seg", lit(segVal))
    seg match {
      case Some(_) => tagged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg").parquet(dir)
      case None => tagged.write.mode("append")
        .partitionBy("seg").parquet(dir)
    }
    stampSegMeta(spark, dir, segVal)
  }

  /** Compact an appended [[buildBinaryIndex]] directory: every
    * append leaves its own `seg=` partition, so a maintained index
    * accumulates one directory per batch forever; compaction folds
    * ALL segments back into a single fresh `base` segment sized to
    * `targetBytesPerFile` parquet files. Codes are STORED and
    * signing params untouched (`_meta` copied forward, epoch
    * preserved), so search results cannot change — the same
    * O(index)-by-nature offline act as [[compactIndex]], through the
    * same fail-safe tmp+rename rewrite, with the same
    * `keepSeg`-survives rule that makes in-stream compaction commute
    * with crash replay ([[graft.etl.IndexIngest]]).
    */
  def compactBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, keepSeg: Option[String] = None,
                         targetBytesPerFile: Long = 128L << 20): Unit = {
    healIndex(spark, dir)
    requireEpochCoherent(spark, dir, Seq("_meta"))
    // size the folded tree from the live tree's byte footprint — the
    // flat tier has no cell structure to inherit a file count from
    val root = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(root).getLength
    val nFiles = math.max(1L, (bytes + targetBytesPerFile - 1) /
      targetBytesPerFile).toInt
    val tomb = tombstones(spark, dir)
    rewriteInPlace(spark, dir, suffixes = Seq("_meta")) { (rows, tmp) =>
      // tombstone purge with the kept-segment carve-out — the same
      // replay-safety reasoning as [[compactIndex]]
      val purged = (tomb, keepSeg) match {
        case (None, _) => rows
        case (Some(t), None) => excludeTombstoned(rows, Some(t), "c_id")
        case (Some(t), Some(s)) =>
          rows.filter(col("seg") === lit(s)).unionByName(
            excludeTombstoned(rows.filter(col("seg") =!= lit(s)), Some(t), "c_id"))
      }
      val segCol = keepSeg
        .map(s => when(col("seg") === lit(s), col("seg")).otherwise(lit("base")))
        .getOrElse(lit("base"))
      purged.withColumn("seg", segCol)
        .repartition(nFiles)
        .write.mode("overwrite").partitionBy("seg").parquet(tmp)
    }
    if (tomb.isDefined) shrinkTombstones(spark, dir, keepSeg)
    foldSegMeta(spark, dir, keepSeg)
  }

  /** Freshness composition for the binary family — the
    * [[ivfPqIndexedTopKWithDelta]] lambda shape: stored-code Hamming
    * probe over the persisted index ∪ exact brute force over the
    * not-yet-appended delta, merged per-query top-k with delta-side
    * priority on id collision. Completes the symmetry: all THREE
    * persisted families now answer search-before-append.
    */
  def binaryIndexedTopKWithDelta(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, delta: DataFrame,
                                 queries: DataFrame, k: Int = 10,
                                 rerank: Int = 50): DataFrame =
    mergeIndexedWithDelta(
      binaryIndexedTopK(spark, dir, queries, k, rerank),
      // deleted ids shadow the freshness path too — see
      // [[ivfPqIndexedTopKWithDelta]]'s tombstone note
      excludeTombstoned(bruteForceTopK(queries, delta, k),
        tombstones(spark, dir), "c_id"), k)

  /** Classic IVF-PQ (Jégou et al. 2011, the composition [[pqTopK]]'s
    * doc promises): the coarse quantizer assigns every code to a cell
    * and a query's ADC scan reads ONLY its `nprobe` probed cells —
    * the two pruning tiers multiply. At 100 TB: the cell filter skips
    * (nlist − nprobe)/nlist of the data, the PQ codes shrink what
    * remains 32×, and raw vectors surface only for the per-query
    * rerank candidates. Shares cell assignment with [[ivfTopK]] and
    * codebooks/ADC with [[pqTopK]], so each tier's recall behavior is
    * the one its own gate already pins; the composed recall compounds
    * them (measured against the exact top-10 in `ext_sim_ivfpq`).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 3, m: Int = 8, ksub: Int = 16,
                rerank: Int = 50, seed: Long = 42L): DataFrame =
    queryChunks(queries, rerank)
      .map(qc => ivfPqTopKChunk(qc, corpus, k, nlist, nprobe, m, ksub, rerank, seed))
      .reduce(_.unionByName(_))

  private def ivfPqTopKChunk(queries: DataFrame, corpus: DataFrame, k: Int,
                             nlist: Int, nprobe: Int, m: Int, ksub: Int,
                             rerank: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.{PqAdcExpr, PqEncodeExpr}
    val centroids = ivfCentroids(corpus, nlist, seed)
    val cbs = pqCodebooks(corpus, m, ksub, seed)
    // cell-tagged code table: (cell, c_id, code) — the scan tier
    // (ivfCorpusSide is already wide; an outer spread would estimate
    // from the raw scan leaves and re-exchange for nothing)
    val codes = ivfCorpusSide(corpus, centroids)
      .select(col("cell"), col("c_id"),
        toCol(PqEncodeExpr(toExpr(col("c_emb")), cbs)).as("code"))
    val probes = ivfProbeSide(queries, centroids, nprobe)
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc", toCol(PqAdcExpr(toExpr(col("q_id")), toExpr(col("q_emb")),
        toExpr(col("code")), cbs)))
      .select(col("q_id"), col("c_id"), col("adc"))
    val cands = TopK.topKByLongKey(scored, "q_id", "adc", "c_id", rerank)
      .select("q_id", "c_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      normD(col("embedding")).as("q_nrm")).filter(col("q_nrm") > 0)
    exactRerank(cands, corpus, q, k)
  }

  /** Persist the corpus as an IVF-PQ index — the composition's
    * index-once/query-many form. ONE cell-partitioned table carries
    * (c_id, code, c_emb, c_nrm): the ADC scan tier reads ONLY
    * (c_id, code) — parquet column pruning keeps the raw vectors on
    * disk — and the rerank tier fetches (c_id, c_emb, c_nrm) for the
    * candidate ids from the same probed cells. Codebooks persist
    * alongside (`<dir>_codebooks`: one row per (sub, code) centroid)
    * with the coarse centroids (`<dir>_centroids`), so a query session
    * needs NOTHING but the directory.
    */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, nlist: Int = 16,
                      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
                      metaCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.PqEncodeExpr
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, nlist, seed)
    val cbs = pqCodebooks(corpus, m, ksub, seed)
    // same cell-clustered write as buildIvfIndex (file count = nlist,
    // not tasks×nlist). `metaCols` stores extra metadata columns WITH
    // the codes — the filtered probe's predicate then pushes into the
    // SAME scan the cell partition filter prunes
    // ([[ivfPqIndexedTopKFiltered]]); they cost their width at build
    // and nothing on unfiltered probes (column pruning), the
    // buildBinaryIndex contract.
    ivfCorpusSide(corpus, centroids, metaCols)
      .withColumn("code", toCol(PqEncodeExpr(toExpr(col("c_emb")), cbs)))
      .withColumn("seg", lit("base"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("seg", "cell").parquet(dir)
    centroids.zipWithIndex.map { case (arr, i) => (i, arr.toSeq) }.toSeq
      .toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(dir.stripSuffix("/") + "_centroids")
    (for { j <- cbs.indices; r <- cbs(j).indices }
      yield (j, r, cbs(j)(r).toSeq)).toDF("sub", "code", "vals")
      .coalesce(1)
      .write.mode("overwrite").parquet(dir.stripSuffix("/") + "_codebooks")
    stampFreshEpoch(spark, dir, Seq("_centroids", "_codebooks"))
    clearTombstones(spark, dir)
    stampSegMeta(spark, dir, "base")
  }

  /** Append a batch of new vectors to a [[buildIvfIndex]] directory
    * WITHOUT a rebuild: assign with the FROZEN persisted centroids and
    * append the batch's cell partitions in place. This is the index
    * maintenance shape a 100 TB corpus needs — ingest arrives forever,
    * but refitting the quantizer means re-reading and re-writing the
    * whole index, so production vector stores (FAISS's add-after-train
    * contract) freeze the trained model and make adds O(batch): here
    * one assignment projection over the batch + one batch-sized
    * shuffle + a partitioned append; the existing index files are
    * never read or touched. Queries need no code change — the probe
    * path reads whatever files the cell directories hold.
    *
    * The frozen model is the point, and also the caveat: appended data
    * from a DIFFERENT distribution than the build-time fit degrades
    * cell balance (recall stays correct — assignment is still nearest-
    * centroid — but hot cells grow, so probes read more). The rebuild
    * policy belongs to the caller: refit when appended volume is a
    * large fraction of the build or when monitoring shows cell skew,
    * exactly as with any frozen-ANN deployment.
    *
    * `seg` picks the retry semantics via the index's second partition
    * level:
    *  - `None` (bulk/ad-hoc): append-mode under a fresh random
    *    segment; a failed-and-retried append can leave duplicates
    *    (rebuild or dedup-verify on failure).
    *  - `Some(id)` (the streaming layer — [[graft.etl.IndexIngest]]
    *    passes its run-scoped `runTag-batchId`): dynamic partition
    *    OVERWRITE of exactly the (seg=id, cell) partitions the batch
    *    writes. Assignment is deterministic given the persisted
    *    model, so a replay recomputes the identical partitions and
    *    overwrites itself in place — exactly-once by construction,
    *    the same shape [[graft.etl.DedupIngest]] pins.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       batch: DataFrame, seg: Option[String] = None): Unit = {
    healIndex(spark, dir)
    requireEpochCoherent(spark, dir, Seq("_centroids"))
    writeAppend(ivfCorpusSide(batch, readIndexCentroids(spark, dir),
      storedIndexMeta(spark, dir)), dir, seg)
  }

  /** Metadata columns a [[buildIvfPqIndex]]/[[buildIvfIndex]] tree
    * stores beside the codes (`metaCols` at build time), derived from
    * the live schema — appended rows must carry the SAME columns or
    * mixed file schemas would surface nulls under the filtered probe;
    * a batch missing one fails analysis loudly at the append (the
    * [[appendToBinaryIndex]] contract, shared by the IVF families).
    */
  private def storedIndexMeta(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Seq[String] =
    spark.read.parquet(dir).schema.fieldNames
      .filterNot(Set("c_id", "c_emb", "c_nrm", "cell", "code", "seg")).toSeq

  /** [[appendToIvfIndex]] for a [[buildIvfPqIndex]] directory: the
    * batch is assigned with the frozen centroids AND encoded with the
    * frozen codebooks, so appended rows are scannable by the ADC tier
    * and rerankable exactly like build-time rows. Same O(batch) cost
    * shape, frozen-model caveat, and `seg` retry semantics as the IVF
    * form.
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                         batch: DataFrame, seg: Option[String] = None): Unit = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.PqEncodeExpr
    healIndex(spark, dir)
    requireEpochCoherent(spark, dir, Seq("_centroids", "_codebooks"))
    val cbs = readIndexCodebooks(spark, dir)
    writeAppend(ivfCorpusSide(batch, readIndexCentroids(spark, dir),
        storedIndexMeta(spark, dir))
      .withColumn("code", toCol(PqEncodeExpr(toExpr(col("c_emb")), cbs))),
      dir, seg)
  }

  /** Shared append writer: cell-clustered (one file per touched cell,
    * see [[buildIvfIndex]]'s file-count note), tagged with the
    * segment partition value per the [[appendToIvfIndex]] contract.
    */
  private def writeAppend(assigned: DataFrame, dir: String,
                          seg: Option[String]): Unit = {
    val segVal = seg.getOrElse(
      "adhoc-" + java.util.UUID.randomUUID.toString.take(8))
    val tagged = assigned
      .withColumn("seg", lit(segVal))
      .repartition(col("cell"))
    seg match {
      case Some(_) => tagged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg", "cell").parquet(dir)
      case None => tagged.write.mode("append")
        .partitionBy("seg", "cell").parquet(dir)
    }
    // ingest-time stamp for [[retainIndex]] (a replayed batch
    // re-stamps its own segment — idempotent, newest stamp wins)
    stampSegMeta(assigned.sparkSession, dir, segVal)
  }

  /** Compact an appended [[buildIvfPqIndex]] (or [[buildIvfIndex]])
    * directory: every append leaves one file per touched cell per
    * segment, so a long-running maintained index accumulates
    * segments × cells small files; compaction rewrites ALL segments
    * into a single fresh `base` segment — one file per cell again —
    * WITHOUT touching the frozen model (`_centroids`/`_codebooks`
    * stay byte-identical; rows keep their stored cell and code, so
    * search results cannot change). O(index) read+write by nature:
    * this is the periodic offline act of the maintenance lifecycle
    * (append per batch → compact on a small-files budget → [[
    * refitIvfPqIndex]] on distribution drift), never per-batch work.
    *
    * Safe against the read-your-own-overwrite hazard (a same-dir
    * overwrite DELETES the input before the job reads it): the
    * compacted copy is fully written to the hidden stage
    * `.<name>.tmp`, then swapped in through [[graft.io.Commit]]. A
    * crash mid-swap leaves the original parked at `.<name>.old` or
    * beside the new tree, and the next compaction heals it first;
    * the stage is deleted up-front so a retried compaction never
    * swaps in a stale half-write.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   keepSeg: Option[String] = None): Unit = {
    // heal FIRST (see healIndex). Compaction PRESERVES stored
    // cells/codes and copies the model forward, so running it on a
    // TORN index (data tree from one model epoch, tables from another)
    // would cement the tear — and rewriteInPlace's prologue deletes
    // the stage trees that are the tear's roll-forward recovery
    // material. Refuse up front; the recovery for a torn index is
    // [[refitIvfPqIndex]] (it re-derives everything from the raw
    // vectors) or the roll-forward rename the error message describes.
    healIndex(spark, dir)
    val suffixes = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(
          dir.stripSuffix("/") + "_codebooks")))
        Seq("_centroids", "_codebooks")
      else Seq("_centroids")
    }
    requireEpochCoherent(spark, dir, suffixes)
    val tomb = tombstones(spark, dir)
    rewriteInPlace(spark, dir) { (rows, tmp) =>
      // `keepSeg` survives the fold UNTOUCHED: the streaming append
      // path compacts mid-run, and the in-flight batch's own segment
      // may exist from a crashed attempt that the checkpoint will
      // REPLAY — folding it into `base` would let the replayed
      // dynamic overwrite of that segment duplicate every row it
      // carried. Segments from earlier batch ids are checkpoint-
      // committed and never replayed, so folding them is safe.
      // Tombstoned rows are PURGED from the folded segments here (the
      // deletion lifecycle's physical half) — but NOT from the kept
      // segment: a replay rewrites that partition whole, so a row
      // purged from it would resurrect; its tombstone is retained
      // instead ([[shrinkTombstones]]) and keeps shadowing it.
      val purged = (tomb, keepSeg) match {
        case (None, _) => rows
        case (Some(t), None) => excludeTombstoned(rows, Some(t), "c_id")
        case (Some(t), Some(s)) =>
          rows.filter(col("seg") === lit(s)).unionByName(
            excludeTombstoned(rows.filter(col("seg") =!= lit(s)), Some(t), "c_id"))
      }
      val seg = keepSeg
        .map(s => when(col("seg") === lit(s), col("seg")).otherwise(lit("base")))
        .getOrElse(lit("base"))
      purged.withColumn("seg", seg)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("seg", "cell").parquet(tmp)
    }
    if (tomb.isDefined) shrinkTombstones(spark, dir, keepSeg)
    foldSegMeta(spark, dir, keepSeg)
  }

  /** Segment partition values present in an appended index directory
    * — the observable the streaming auto-compaction policy thresholds
    * on (one directory listing, no data read).
    */
  def segmentNames(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
      .map(_.getPath.getName.stripPrefix("seg="))
      .toSeq
  }

  // ---------------------------------------------------------------- //
  // Deletion lifecycle (tombstones) — r12 VERDICT #1                  //
  // ---------------------------------------------------------------- //

  /** Tombstone sidecar for a parquet-directory index family (IVF /
    * IVF-PQ / binary): `<dir>_tombstones`, seg-partitioned one-column
    * (`c_id`) parquet, exactly the append trees' layout so the same
    * exactly-once construction carries over.
    */
  private def tombstoneDir(dir: String): String =
    dir.stripSuffix("/") + "_tombstones"

  /** DELETE vectors from a persisted [[buildIvfIndex]] /
    * [[buildIvfPqIndex]] / [[buildBinaryIndex]] directory — the
    * retraction verb the lifecycle was missing: PII scrubbing and
    * takedown are first-class in an LLM data pipeline, and at 100 TB
    * "rebuild the index" is not a deletion strategy. `ids` carries a
    * `vec_id` column (the append batches' id contract).
    *
    * Mechanism: ids land in a TOMBSTONE sidecar (`<dir>_tombstones`);
    * every probe path anti-joins its candidate scan against it BEFORE
    * selection (so each query still ranks k live candidates — the
    * same no-silent-under-return argument as filtered search), and
    * [[compactIndex]] / [[compactBinaryIndex]] physically purge
    * tombstoned rows and clear the sidecar. Between compactions the
    * tombstone set is bounded by the deletion rate — compact on a
    * tombstone budget exactly as on a small-files budget; the probe
    * anti-join broadcasts it.
    *
    * Semantics: delete-by-id SHADOWS every stored row with that id —
    * including rows appended AFTER the delete and rows offered via
    * the WithDelta freshness paths — until a compaction purges both
    * the rows and the tombstones; an id re-appended after that
    * compaction is live again. A replayed delete is idempotent two
    * ways: with `seg = Some(id)` (the streaming layer's run-scoped
    * tag) the replay dynamic-overwrites its own tombstone partition;
    * and regardless of seg, re-tombstoning an already-purged or
    * already-tombstoned id is a no-op by construction (the anti-join
    * and the purge are set operations). The model is untouched —
    * tombstones are id-space facts, valid across [[refitIvfPqIndex]]
    * (which preserves rows and ids), so the sidecar deliberately
    * sits OUTSIDE the `_graft_epoch` coherence set.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      ids: DataFrame, seg: Option[String] = None): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"deleteFromIndex: no index at $dir")
    // the caller must be pointing at a directory-family index, or the
    // tombstones written here would never be honored by any probe —
    // the caller believing the data is shadowed when it is not is the
    // silent failure mode of a takedown verb (r13 ADVICE). Recognize
    // the layout: a model sibling (`_centroids`/`_meta`) or `seg=`
    // partitioning (covers a torn mid-build index, where delete
    // intent must still be recordable).
    val base = dir.stripSuffix("/")
    require(
      fs.exists(new org.apache.hadoop.fs.Path(base + "_centroids")) ||
        fs.exists(new org.apache.hadoop.fs.Path(base + "_meta")) ||
        fs.listStatus(root).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("seg=")),
      s"deleteFromIndex: $dir is not a buildIvfIndex/buildIvfPqIndex/" +
        "buildBinaryIndex directory (no model sibling, no seg= " +
        "partitions) — a tombstone sidecar here would shadow nothing. " +
        "LSH indexes are catalog tables and sit outside the tombstone " +
        "contract.")
    // never write beside a torn shrink's park
    Commit.heal(fs, new org.apache.hadoop.fs.Path(tombstoneDir(dir)), "deleteFromIndex")
    val tagged = ids.select(col("vec_id").as("c_id"))
      .withColumn("seg", lit(seg.getOrElse(
        "adhoc-" + java.util.UUID.randomUUID.toString.take(8))))
      .coalesce(1)
    seg match {
      case Some(_) => tagged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg").parquet(tombstoneDir(dir))
      case None => tagged.write.mode("append")
        .partitionBy("seg").parquet(tombstoneDir(dir))
    }
  }

  /** The committed tombstone ids for the index at `dir` as a
    * one-column (`c_id`) frame — None when no delete was ever issued,
    * which is the common case and costs ONE directory probe with zero
    * plan change (the hot path stays byte-identical to pre-deletion).
    *
    * TORN-SWAP RECOVERY (r13 ADVICE): [[shrinkTombstones]]'s swap
    * has a window where the live sidecar is ABSENT and its pre-shrink
    * copy is parked — unlike the data trees (epoch markers), the
    * sidecar has no coherence marker, and a read returning None there
    * would silently resurrect every unpurged deleted row, in the
    * PII-deletion path where it matters most. So every sidecar touch
    * point, this read included, heals first
    * ([[graft.io.Commit.heal]]): the parked tree rolls back in (a
    * conservative SUPERSET of the needed tombstones — anti-joins over
    * already-purged ids are no-ops), or a completed shrink's leftover
    * park is deleted before anything could make the two diverge.
    */
  private[graft] def tombstones(spark: org.apache.spark.sql.SparkSession,
                                dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstoneDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Commit.heal(fs, p, "tombstones")
    if (!fs.exists(p) || !fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("seg=")))
      None
    else Some(spark.read.parquet(tombstoneDir(dir)).select(col("c_id")))
  }

  /** Anti-join `df` against the tombstone set on `idCol` — broadcast,
    * because the set is bounded between compactions (the
    * [[deleteFromIndex]] contract). No-op (identical plan) when no
    * tombstones exist.
    */
  private def excludeTombstoned(df: DataFrame, tomb: Option[DataFrame],
                                idCol: String): DataFrame =
    tomb.fold(df)(t =>
      df.join(broadcast(t.select(col("c_id").as(idCol))), Seq(idCol), "left_anti"))

  /** Post-compaction tombstone shrink shared by [[compactIndex]] and
    * [[compactBinaryIndex]]: with `keepSeg` the kept segment survives
    * the fold UNPURGED (a replay will dynamic-overwrite it whole, so
    * rows removed from it would resurrect on replay) — tombstones
    * that still shadow a kept-seg row are RETAINED; everything else
    * was physically purged and its tombstones clear. Runs AFTER the
    * main swap, so a crash anywhere in between leaves a conservative
    * SUPERSET of the needed tombstones (anti-joins over already-
    * purged ids are no-ops) — never a resurrected row.
    */
  private def shrinkTombstones(spark: org.apache.spark.sql.SparkSession,
                               dir: String, keepSeg: Option[String]): Unit = {
    val td = tombstoneDir(dir)
    val p = new org.apache.hadoop.fs.Path(td)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Commit.heal(fs, p, "shrinkTombstones") // a prior shrink's torn swap first
    if (!fs.exists(p)) return
    keepSeg match {
      case None => fs.delete(p, true)
      case Some(s) =>
        val keptIds = spark.read.parquet(dir)
          .filter(col("seg") === lit(s)).select(col("c_id"))
        val tmp = Commit.stage(p)
        spark.read.parquet(td)
          .join(keptIds, Seq("c_id"), "left_semi")
          .select(col("c_id")).withColumn("seg", lit("base")).coalesce(1)
          .write.mode("overwrite").partitionBy("seg").parquet(tmp.toString)
        Commit.swap(fs, p, tmp, "shrinkTombstones")
    }
  }

  // ---------------------------------------------------------------- //
  // Time-based retention (r13 VERDICT #4)                            //
  // ---------------------------------------------------------------- //

  /** Per-segment ingest-time sidecar (`<dir>_segmeta/<seg>`, one
    * epoch-millis value per file): the ts-aware metadata [[retainIndex]]
    * cuts on. Stamped by every build/append; a segment WITHOUT a stamp
    * (hand-assembled, or predating this sidecar) is treated as
    * unknown-age and NEVER expired — retention must fail conservative.
    * Lives OUTSIDE the data tree so compaction's whole-tree swap
    * ([[rewriteInPlace]]) does not disturb it; [[foldSegMeta]] follows
    * each compaction to keep it in step with the folded segments.
    */
  private def segMetaDir(dir: String): String =
    dir.stripSuffix("/") + "_segmeta"

  private def segMetaPath(dir: String, seg: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(segMetaDir(dir),
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(seg))

  private[graft] def stampSegMeta(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, seg: String,
                                  tsMs: Long = -1L): Unit = {
    val p = segMetaPath(dir, seg)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ts = if (tsMs >= 0) tsMs else System.currentTimeMillis()
    val out = fs.create(p, true)
    try out.write(ts.toString.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readSegMeta(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Map[String, Long] = {
    val d = new org.apache.hadoop.fs.Path(segMetaDir(dir))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).iterator.filter(_.isFile).flatMap { st =>
      val in = fs.open(st.getPath)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
      txt.toLongOption.map(ts =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(st.getPath.getName) -> ts)
    }.toMap
  }

  /** After a compaction folded every segment except `keepSeg` into
    * `base`: folded segments' stamps are dropped and `base` takes the
    * MAX of the folded stamps (conservative for retention — folded
    * rows are treated as young as the youngest fold source, so a
    * later cutoff can only under-expire, never over-expire).
    */
  private def foldSegMeta(spark: org.apache.spark.sql.SparkSession,
                          dir: String, keepSeg: Option[String]): Unit = {
    val meta = readSegMeta(spark, dir)
    if (meta.isEmpty) return
    val fs = new org.apache.hadoop.fs.Path(segMetaDir(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded = meta -- keepSeg.toSeq - "base"
    if (folded.nonEmpty) {
      stampSegMeta(spark, dir, "base",
        (folded.values ++ meta.get("base")).max)
      folded.keys.foreach(s => fs.delete(segMetaPath(dir, s), false))
    }
  }

  /** SIBLING of the data tree (like `_segmeta`/`_tombstones`), not
    * inside it — [[rewriteInPlace]] swaps the whole data dir, and a
    * watermark living inside would vanish with the first compaction. */
  private def retentionPath(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "_retention")

  /** The index's retention watermark (max cutoff ever applied), 0 if
    * retention never ran — exposed per-row by [[describeIndex]]. */
  private[graft] def retentionWatermark(spark: org.apache.spark.sql.SparkSession,
                                        dir: String): Long = {
    val p = retentionPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLongOption.getOrElse(0L)
      finally in.close()
    }
  }

  /** TIME-BASED RETENTION for a persisted index directory (all three
    * parquet families) — the age-based takedown symmetric to
    * [[graft.etl.DedupIngest.retainCorpus]]: without it, expiring a
    * year of embeddings means enumerating ids client-side. Drops every
    * vector whose SEGMENT was ingested before `cutoffMs` (segments are
    * the ingest-batch granularity, so ingest time is a segment fact;
    * a segment with no [[stampSegMeta]] stamp is unknown-age and is
    * KEPT — conservative by construction), implemented as a BULK
    * TOMBSTONE riding the deletion machinery: the expired segments'
    * ids land in the tombstone sidecar under the run-scoped segment
    * `retain-<cutoffMs>` (re-running the same cutoff overwrites its
    * own partition — idempotent), every probe shadows them
    * immediately, and the next [[compactIndex]]/[[compactBinaryIndex]]
    * physically purges rows and tombstones together.
    *
    * An id that ALSO lives in a kept (younger) segment is retained
    * wholesale — tombstones shadow by id across ALL segments, so
    * expiring a re-ingested id would take down its live copy too; the
    * kept-side anti-join below keeps exactly those. Stamps the
    * retention watermark (monotone max, [[describeIndex]] exposes it)
    * even when nothing expires. Returns the number of ids tombstoned.
    */
  def retainIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  cutoffMs: Long): Long = {
    val meta = readSegMeta(spark, dir)
    val live = segmentNames(spark, dir).toSet
    val expired = meta.collect {
      case (s, ts) if ts < cutoffMs && live(s) => s }.toSeq
    // watermark first — monotone, and recorded even for a no-op cutoff
    // (the operator's evidence that retention RAN)
    val p = retentionPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = math.max(cutoffMs, retentionWatermark(spark, dir))
    val out = fs.create(p, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    if (expired.isEmpty) return 0L
    val rows = spark.read.parquet(dir.stripSuffix("/"))
    val expiredIds = rows
      .filter(col("seg").isin(expired: _*)).select(col("c_id")).distinct()
    val keptIds = rows
      .filter(!col("seg").isin(expired: _*)).select(col("c_id"))
    val ids = expiredIds.join(keptIds, Seq("c_id"), "left_anti")
      .select(col("c_id").as("vec_id")).localCheckpoint()
    val n = ids.count()
    if (n > 0) deleteFromIndex(spark, dir, ids,
      seg = Some(s"retain-$cutoffMs"))
    n
  }

  /** Operational description of a persisted IVF / IVF-PQ index
    * directory — the observability surface an operator serving a
    * 100 TB index needs before deciding to compact, refit, or page
    * someone: one row PER SEGMENT with its cell/file/byte/row
    * footprint, each row also carrying the index-level facts (model
    * family, nlist from the frozen centroid table, PQ shape from the
    * codebook table when present, and whether the `_graft_epoch`
    * markers across data + model trees are coherent — `false` is the
    * crash-mid-swap signature [[compactIndex]]/[[refitIvfPqIndex]]
    * refuse on).
    *
    * Cost: one directory walk (files/bytes/cells) plus a per-segment
    * `count(*)` that selects ZERO data columns — the scan is bounded
    * by parquet footers, not vector bytes — and two tiny model-table
    * reads. Safe to call on a torn or mid-ingest index: this reads
    * metadata and refuses nothing (it REPORTS the refusal condition
    * instead).
    */
  def describeIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    import spark.implicits._
    val base = dir.stripSuffix("/")
    val root = new org.apache.hadoop.fs.Path(base)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no index at $dir")
    def dataLeaves(p: org.apache.hadoop.fs.Path) = fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    // per-segment directory footprint: cells, files, bytes. The IVF
    // families nest cell= under seg=; the binary family's segments
    // hold files directly (cells = 0); a hand-assembled or
    // pre-segmentation FLAT tree (data files at the root, no seg=
    // dirs) reports as one synthetic "(flat)" segment so the tool
    // covers every layout it can meet.
    val perSeg = fs.listStatus(root).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
      .map { segSt =>
        val seg = segSt.getPath.getName.stripPrefix("seg=")
        val cells = fs.listStatus(segSt.getPath)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        val leaves =
          if (cells.nonEmpty) cells.flatMap(c => dataLeaves(c.getPath))
          else dataLeaves(segSt.getPath)
        (seg, cells.length.toLong, leaves.length.toLong,
          leaves.map(_.getLen).sum)
      }.toSeq
    val flatLeaves =
      if (perSeg.nonEmpty) Array.empty[org.apache.hadoop.fs.FileStatus]
      else dataLeaves(root)
    val segmented = perSeg.nonEmpty
    val allSegs =
      if (segmented) perSeg
      else if (flatLeaves.nonEmpty)
        Seq(("(flat)", 0L, flatLeaves.length.toLong,
          flatLeaves.map(_.getLen).sum))
      else Seq.empty
    // row counts: zero-column aggregate, parquet-footer bounded. An
    // index crashed mid-build may have seg dirs with no committed
    // parquet yet — report zero rows rather than throw (r9 ADVICE:
    // the report-don't-refuse contract must survive a torn build).
    val rowsBySeg =
      if (allSegs.isEmpty) Map.empty[String, Long]
      else try {
        if (segmented)
          spark.read.parquet(base)
            .groupBy(col("seg")).agg(count(lit(1)).as("rows"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map("(flat)" -> spark.read.parquet(base).count())
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          Map.empty[String, Long]
      }
    // frozen-model shape from the model tables (tiny by construction).
    // A build that crashed before its model table committed has no
    // model yet: report model="unknown" instead of throwing — and
    // since the data tree's epoch marker then has no model-tree
    // counterpart, `coherent` comes out false below, which IS the
    // torn-build signature the caller needs to see.
    val hasCentroids =
      fs.exists(new org.apache.hadoop.fs.Path(base + "_centroids"))
    val hasPq = fs.exists(new org.apache.hadoop.fs.Path(base + "_codebooks"))
    // a `_meta` table whose row carries `nbits` is the binary
    // family's signing config ([[buildBinaryIndex]] — nbits/dim/seed)
    val binMeta =
      if (hasCentroids ||
          !fs.exists(new org.apache.hadoop.fs.Path(base + "_meta"))) None
      else {
        val m = spark.read.parquet(base + "_meta")
        if (m.columns.contains("nbits")) Some(m.head()) else None
      }
    val nlist =
      if (hasCentroids) spark.read.parquet(base + "_centroids").count().toInt
      else 0
    val (pqM, pqKsub) =
      if (!hasPq) (0, 0)
      else {
        val cb = spark.read.parquet(base + "_codebooks")
          .agg(max(col("sub")).as("m"),
            (max(col("code")) + 1).as("k")).head()
        (cb.getAs[Number](0).intValue() + 1, cb.getAs[Number](1).intValue())
      }
    val nBits = binMeta.map(_.getAs[Int]("nbits")).getOrElse(0)
    // epoch coherence: all EXPECTED trees' markers must be present and
    // agree — the IVF families always write `_centroids` (plus
    // `_codebooks` when PQ), the binary family `_meta`. With NO model
    // table at all (a crash before any committed, or a hand-assembled
    // tree), a model tree is still EXPECTED: an orphan data-tree
    // marker must read incoherent (the mid-build signature), while a
    // marker-less hand assembly stays vacuously coherent.
    val trees = "" +: (
      if (hasPq) Seq("_centroids", "_codebooks")
      else if (hasCentroids) Seq("_centroids")
      else if (binMeta.isDefined) Seq("_meta")
      else Seq("_centroids"))
    val epochs = trees.flatMap(suf => readEpoch(fs, base + suf))
    val coherent = epochs.isEmpty ||
      (epochs.size == trees.size && epochs.distinct.size == 1)
    val model =
      if (hasPq) "ivfpq"
      else if (hasCentroids) "ivf"
      else if (binMeta.isDefined) "binary"
      else "unknown"
    // retention posture: the segment's ingest stamp (0 = unstamped ⇒
    // never expired) and the index-level watermark (max cutoff ever
    // applied by [[retainIndex]]; 0 = retention never ran)
    val segTs = readSegMeta(spark, base)
    val watermark = retentionWatermark(spark, base)
    allSegs.map { case (seg, cells, files, bytes) =>
      (seg, cells, files, bytes, rowsBySeg.getOrElse(seg, 0L),
        model, nlist, pqM, pqKsub, nBits, coherent,
        epochs.headOption.getOrElse(""),
        segTs.getOrElse(seg, 0L), watermark)
    }.toDF("seg", "cells", "files", "bytes", "rows", "model", "nlist",
      "pq_m", "pq_ksub", "nbits", "epoch_coherent", "epoch",
      "ingest_ts", "retention_watermark")
      .orderBy(col("seg"))
  }

  /** REFIT the quantizer of a [[buildIvfPqIndex]] directory over its
    * current contents — the deliberate offline answer to
    * distribution drift (appended data from a shifted distribution
    * keeps nearest-centroid assignment CORRECT but unbalances cells,
    * so probes read more; see [[appendToIvfIndex]]). Reads the stored
    * vectors back out of the index, fits fresh centroids + codebooks
    * on the union corpus exactly like a cold [[buildIvfPqIndex]], and
    * swaps the rebuilt tree in with the same [[graft.io.Commit]] swap
    * as [[compactIndex]]. O(index) by design; every id present
    * before is present after (the spec pins it). Like compaction it
    * folds every segment's ingest stamp into `base` ([[foldSegMeta]]).
    */
  def refitIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                      seed: Long = 42L): Unit = {
    healIndex(spark, dir)
    // the stage's build stamps its own `_segmeta`, which no swap moves:
    // clear a crashed run's copy first, drop this run's after the swap
    val stageSegMeta = new org.apache.hadoop.fs.Path(segMetaDir(
      Commit.stage(new org.apache.hadoop.fs.Path(dir.stripSuffix("/"))).toString))
    val fs = stageSegMeta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stageSegMeta, true)
    rewriteInPlace(spark, dir) { (rows, tmp) =>
      // localCheckpoint: the fit + assignment must read the OLD tree's
      // rows while the new tree is being written elsewhere — cutting
      // the lineage here also keeps the kmeans/codebook caches keyed
      // by a plan that cannot collide with the live directory's scans.
      // Stored metadata columns (a metaCols build) ride through the
      // refit — dropping them would silently break the filtered probe
      // the index was built to serve.
      val meta = rows.schema.fieldNames
        .filterNot(Set("c_id", "c_emb", "c_nrm", "cell", "code", "seg")).toSeq
      val corpus = rows.select(col("c_id").as("vec_id") +:
        col("c_emb").as("embedding") +: meta.map(col): _*).localCheckpoint()
      buildIvfPqIndex(corpus, tmp, nlist = nlist, m = m, ksub = ksub,
        seed = seed, metaCols = meta)
    }
    fs.delete(stageSegMeta, true)
    foldSegMeta(spark, dir, None)
  }

  /** Shared fail-safe in-place rewrite: materialize the new tree at
    * the data tree's stage (`.<name>.tmp`, [[graft.io.Commit.stage]];
    * model tables beside it as `.<name>.tmp_centroids` etc., copied
    * forward only if the rewrite didn't produce its own), then swap
    * each tree in through [[graft.io.Commit.swap]]. Loud on every
    * filesystem step. Callers heal the index first ([[healIndex]]).
    *
    * The data tree and the model tables are SEPARATE directories, so
    * the swap cannot be one atomic rename — a crash between two trees'
    * swaps can leave new data beside an old model (after a refit
    * that combination returns WRONG NEIGHBORS: probes assign queries
    * with stale centroids and ADC decodes new codes with old
    * codebooks, no error anywhere). The model-EPOCH guard closes that
    * hole: every tree carries a `_graft_epoch` marker (underscore
    * prefix — parquet readers ignore it), builds/refits stamp one
    * fresh UUID across all trees, compaction carries the old one
    * forward, and every read/append path requires all present trees
    * to agree ([[requireEpochCoherent]]) — a torn refit fails loudly
    * on first use instead of serving silently wrong results. A crash
    * INSIDE one tree's swap is healed by the next writer.
    */
  private def rewriteInPlace(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             suffixes: Seq[String] =
                               Seq("_centroids", "_codebooks"))
                            (write: (DataFrame, String) => Unit): Unit = {
    val base = dir.stripSuffix("/")
    val hconf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(base).getFileSystem(hconf)
    val tmpBase = Commit.stage(p(base)).toString
    // a stale tmp tree from a crashed run must never be swapped in
    (tmpBase +: suffixes.map(tmpBase + _))
      .foreach(t => fs.delete(p(t), true))
    write(spark.read.parquet(base), tmpBase)
    // carry the (unchanged) model tables with the data tree so the
    // swap is whole-index: compaction copies them forward (epoch
    // markers travel inside the copied dirs), a refit already wrote
    // fresh ones next to tmp
    suffixes.foreach { suf =>
      if (!fs.exists(p(tmpBase + suf)) && fs.exists(p(base + suf)))
        require(org.apache.hadoop.fs.FileUtil.copy(fs, p(base + suf), fs,
          p(tmpBase + suf), false, hconf), s"rewriteInPlace: could not copy $base$suf")
    }
    // the rewritten DATA tree needs its epoch restored/written:
    // Spark's write produced it without a marker. Compaction keeps
    // the old epoch (model unchanged); a refit's write stamped a
    // fresh epoch on all THREE tmp trees already (buildIvfPqIndex),
    // so only stamp when absent.
    if (readEpoch(fs, tmpBase).isEmpty)
      readEpoch(fs, base).foreach(e => stampEpoch(fs, tmpBase, e))
    // a model table absent from both sides stays absent
    ("" +: suffixes).foreach(suf =>
      Commit.swap(fs, p(base + suf), p(tmpBase + suf), "rewriteInPlace"))
  }

  /** [[graft.io.Commit.heal]] each tree of the index at `dir`. Index
    * writers call it on entry, BEFORE the epoch check: an interrupted
    * swap reads as a torn index or a missing table. Reads never heal. */
  private def healIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    val base = dir.stripSuffix("/")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("", "_centroids", "_codebooks", "_meta").foreach(suf =>
      Commit.heal(fs, new org.apache.hadoop.fs.Path(base + suf), "healIndex"))
  }

  /** Model-epoch marker plumbing (see [[rewriteInPlace]]'s doc for
    * why it exists). The marker is a tiny `_graft_epoch` text file at
    * the tree root — underscore-prefixed, so every parquet
    * reader/partition-discovery path ignores it, and appends (which
    * only touch `seg=` partitions) leave it in place.
    */
  private def epochPath(tree: String) =
    new org.apache.hadoop.fs.Path(tree.stripSuffix("/") + "/_graft_epoch")

  private def stampEpoch(fs: org.apache.hadoop.fs.FileSystem, tree: String,
                         epoch: String): Unit = {
    val out = fs.create(epochPath(tree), true)
    try out.write(epoch.getBytes("UTF-8")) finally out.close()
  }

  private def readEpoch(fs: org.apache.hadoop.fs.FileSystem,
                        tree: String): Option[String] = {
    val p = epochPath(tree)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  /** Stamp one fresh epoch across an index's trees (build/refit). */
  private def stampFreshEpoch(spark: org.apache.spark.sql.SparkSession,
                              dir: String, suffixes: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epoch = java.util.UUID.randomUUID.toString
    ("" +: suffixes).foreach(suf =>
      stampEpoch(fs, dir.stripSuffix("/") + suf, epoch))
  }

  /** A FULL REBUILD starts a fresh deletion lifecycle: tombstones
    * belong to the rows they were issued against, and a rebuild over
    * an existing directory replaces every row — stale tombstones left
    * behind would silently shadow same-id rows of the NEW corpus.
    * Called by the three build functions only; [[refitIvfPqIndex]]
    * PRESERVES rows and ids, so tombstones deliberately survive it.
    */
  private def clearTombstones(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombstoneDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the park too: a heal would roll a torn shrink's park back in
    Seq(p, Commit.park(p)).foreach(fs.delete(_, true))
  }

  /** Refuse to read or append through a TORN index: all present
    * epoch markers across the data tree and model tables must agree.
    * Markers may be absent entirely (an index assembled by hand) —
    * then there is nothing to compare and behavior is unchanged; a
    * MIXED state (some trees one epoch, some another or missing where
    * siblings have one) is exactly the crash-mid-swap signature and
    * fails loudly with the recovery pointer.
    */
  private def requireEpochCoherent(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, suffixes: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochs = ("" +: suffixes).map(suf =>
      suf -> readEpoch(fs, dir.stripSuffix("/") + suf))
    val present = epochs.collect { case (s, Some(e)) => (s, e) }
    require(present.isEmpty || present.size == epochs.size &&
        present.map(_._2).distinct.size == 1,
      s"index at $dir is TORN — model-epoch markers disagree " +
        s"(${epochs.map { case (s, e) => s"'$s'=${e.getOrElse("<absent>")}" }
          .mkString(", ")}): a refit's swaps did not all complete. " +
        "Recover by (a) refitIvfPqIndex — it re-derives the model and " +
        "every stored cell/code from the raw vectors, which are valid " +
        "regardless of the tear — or (b) rolling FORWARD: rename each " +
        s"surviving stage tree ${Commit.stage(new org.apache.hadoop.fs.Path(dir.stripSuffix("/")))}" +
        "[_centroids|_codebooks|_meta] over its live counterpart (the " +
        "stages hold the interrupted rewrite's consistent versions). A " +
        "crash inside one tree's swap leaves a parked `.<tree>.old`; " +
        "the next compaction, refit or append heals it, no manual step.")
  }

  /** Top-k against a [[buildIvfPqIndex]] directory. Centroids and
    * codebooks read back (tiny), probed cell ids pushed as a
    * partition filter; the scan tier reads only the 8-byte codes of
    * the probed cells, the rerank tier re-reads those cells pruned to
    * (id, vector) and joined down to the candidate ids. Same
    * cell/codebook assignment as [[ivfPqTopK]] by construction.
    */
  def ivfPqIndexedTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                       queries: DataFrame, k: Int = 10, nprobe: Int = 3,
                       rerank: Int = 50,
                       predicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    // once per CALL, not per chunk: a corpus-proportional query set
    // splits into several chunks against the same directory, and the
    // marker check is 3×(exists+read) filesystem round trips
    requireEpochCoherent(spark, dir, Seq("_centroids", "_codebooks"))
    val centroids = readIndexCentroids(spark, dir)
    // ONE stats pass over the query side replaces two driver actions
    // (r14 optimization): queryChunks' count job and the per-chunk
    // probed-cells distinct+collect job. nq counts the nonzero-norm
    // queries — exactly the rows that create rerank selection state,
    // so the chunk budget is unchanged — and the probed set is the
    // GLOBAL union over queries: per-chunk scans read the union
    // instead of the chunk's own (typically identical) set, a
    // superset that cannot drop candidates; chunk membership itself
    // is untouched, so the union stays row-identical to the unchunked
    // plan (the queryChunks contract, spec-asserted).
    // TRADE-OFF (r14 ADVICE): when chunkCountFor returns >1 AND the
    // query clusters are cell-disjoint, each chunk scans up to
    // chunks× more cells than its own probe set needs. Chunking only
    // engages when nq > the rerank-state budget (tens of thousands of
    // queries — never at gate scales, where chunks = 1), and a
    // per-chunk distinct to re-narrow the set would cost one extra
    // driver action per chunk, i.e. exactly the serialized jobs this
    // fused stats pass removed; re-introduce per-chunk sets only if a
    // measured workload shows chunked cell-disjoint query batches.
    val stats = ivfProbeSide(queries, centroids, nprobe)
      .agg(countDistinct(col("q_id")).as("nq"),
        collect_set(col("cell")).as("cells")).head()
    val nq = stats.getLong(0)
    val probed = stats.getSeq[Int](1).sorted
    chunkFrames(queries, chunkCountFor(nq, rerank))
      .map(qc => ivfPqIndexedTopKChunk(spark, dir, qc, k, nprobe, rerank,
        predicate, centroids, probed))
      .reduce(_.unionByName(_))
  }

  /** Recall-ADAPTIVE probe over a persisted IVF-PQ index: probe
    * narrow first (`nprobe0` cells), then re-probe at `nprobeMax`
    * ONLY the queries whose first pass looks beatable — the right
    * probe-cost shape at scale, where a fixed wide nprobe pays the
    * hard queries' bill for every easy one (most queries' neighbors
    * live in their top-1/2 cells; a uniform nprobe=8 reads 4× the
    * cells the easy majority needs).
    *
    * Escalation criterion, computed set-based in ONE pass over the
    * query set (no driver-side per-query loop): a query escalates iff
    * it returned fewer than `k` rows, OR its kth-neighbor cosine is
    * below the cosine to its first NOT-probed centroid plus `margin`
    * ([[graft.functions.CellCosinesExpr]] — the assignment loop
    * emitting cell cosines, so the signal costs one fused expression
    * over nlist centroids, not a second probe). The centroid cosine
    * is the standard practical proxy for "could that cell still hold
    * a better neighbor" (a cell whose CENTER already beats your kth
    * hit very plausibly contains members that do); `margin` > 0
    * escalates more eagerly, < 0 less.
    *
    * Both passes are the plain [[ivfPqIndexedTopK]], so the contract
    * is exact by construction: escalated queries return EXACTLY the
    * fixed-`nprobeMax` result, non-escalated queries exactly the
    * fixed-`nprobe0` result — and since the top-`nprobeMax` cells are
    * a superset of the top-`nprobe0` cells, an escalated query's
    * recall can only improve. Total work = |easy|·nprobe0 +
    * |hard|·nprobeMax probed cells (two partition-pruned scans).
    */
  def ivfPqIndexedTopKAdaptive(spark: org.apache.spark.sql.SparkSession,
                               dir: String, queries: DataFrame, k: Int = 10,
                               nprobe0: Int = 2, nprobeMax: Int = 8,
                               margin: Double = 0.0,
                               rerank: Int = 50): DataFrame = {
    val centroids = readIndexCentroids(spark, dir)
    val p0 = math.min(math.max(nprobe0, 1), centroids.length)
    val pMax = math.min(math.max(nprobeMax, p0), centroids.length)
    if (pMax > p0 && fusedAdaptiveEligible(spark, dir))
      return ivfPqAdaptiveFused(spark, dir, queries, k, p0, pMax, margin,
        rerank, None)
    // materialize the narrow pass and the escalation set: both are
    // query-bounded (≤ nq·k and ≤ nq rows), and both sit on MULTIPLE
    // branches of the final plan (stats, anti-join, semi-join) — left
    // lazy, the narrow probe subtree re-executes once per branch and
    // the "cheap first pass" costs 3× itself (measured 2.9× wide on
    // the clustered fixture before this cut)
    val first = ivfPqIndexedTopK(spark, dir, queries, k, p0, rerank)
      .localCheckpoint()
    if (pMax == p0) return first
    val escalated = adaptiveEscalations(queries, first, centroids, k, p0,
      margin).localCheckpoint()
    val hardQueries = queries.join(escalated,
      queries("vec_id") === escalated("q_id"), "left_semi")
    first.join(escalated, Seq("q_id"), "left_anti")
      .unionByName(ivfPqIndexedTopK(spark, dir, hardQueries, k, pMax, rerank))
  }

  /** The adaptive probe's escalation set (one `q_id` column): queries
    * whose narrow pass `first` is beatable — fewer than `k` rows
    * returned, or kth cosine below the first unprobed centroid's
    * cosine plus `margin`. Factored out so the evidence probe
    * (`tools.AdaptiveProbe`) measures the EXACT escalation fraction
    * the query path acts on, not an estimate.
    */
  private[graft] def adaptiveEscalations(queries: DataFrame, first: DataFrame,
                                         centroids: Array[Array[Double]],
                                         k: Int, p0: Int,
                                         margin: Double): DataFrame = {
    // decision inputs: pass-1 hit count + kth cosine, and the cosine
    // to the first unprobed centroid (element p0+1 of the ranked
    // cell-cosine array; absent when nlist ≤ p0 ⇒ nothing unprobed)
    val nextCos = nextCentroidCosine(queries, centroids, p0)
    val stats = first.groupBy(col("q_id"))
      .agg(count(lit(1)).as("hits"), min(col("cosine")).as("kth"))
    // left join: a query with NO pass-1 rows (e.g. its probed cells
    // are empty) has no stats row and must escalate
    nextCos.join(stats, Seq("q_id"), "left")
      .filter(coalesce(col("hits"), lit(0L)) < k ||
        col("kth") < col("next_cos") + margin)
      .select(col("q_id"))
  }

  /** The MAX cosine over each query's NOT-probed cells at narrow
    * width `p0` ([[graft.functions.CellCosinesExpr]] with k = nlist —
    * the assignment loop with cosines fused in, one expression over
    * nlist centroids either way). The max over ALL unprobed cells,
    * not just the next-by-assignment-score one: cells are probed in
    * `‖c‖²/2 − x·c` order, so an unprobed cell further down the score
    * ranking can still carry the highest COSINE when centroid norms
    * are uneven (a mixed or fat cell) — exactly the blind spot where
    * the single-next-centroid signal measured hits=0 queries that
    * never escalated on the clustered fixture. −1 when nothing is
    * unprobed (nlist ≤ p0) or the query has zero norm.
    */
  private def nextCentroidCosine(queries: DataFrame,
                                 centroids: Array[Array[Double]],
                                 p0: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    queries.select(col("vec_id").as("q_id"),
        toCol(graft.functions.CellCosinesExpr(centroids, centroids.length,
          toExpr(col("embedding")))).as("_cc"))
      .select(col("q_id"),
        when(size(col("_cc")) > p0,
          array_max(slice(col("_cc"), p0 + 1, centroids.length)))
          .otherwise(lit(-1.0)).as("next_cos"))
  }

  /** Should the adaptive/filtered probe run FUSED (one wide pass, two
    * selections) instead of two-pass (narrow, then re-probe the
    * escalated tail)? Pure performance dispatch — both paths return
    * identical rows (the [[ivfPqAdaptiveFused]] proof), so this gate
    * can never change results, only costs.
    *
    * The trade: fused deletes one full probe round trip — ~20 driver-
    * scheduled jobs incl. two localCheckpoint materializations,
    * measured 34 jobs → ~14 at bench scale where per-job scheduling
    * latency IS the wall — but pays ADC + rerank over the WIDE cell
    * prefix for every query, where two-pass pays narrow for the easy
    * majority. Job overhead is O(1); the extra scan is O(index bytes ·
    * (pMax−p0)/nlist). So fuse exactly while the index data tree is
    * small enough that the extra bytes cost less than the saved round
    * trips: `spark.graft.sim.fusedAdaptiveMaxBytes` (default 1 GiB —
    * at 32 local cores a ≤1 GiB tree's extra wide scan is well under
    * the ~1.5–2 s of saved scheduling; covers every local rung). On a
    * production cluster with petabyte trees set 0 (always two-pass:
    * scan bytes dominate, scheduling amortizes) — the knob is conf,
    * not code, precisely because the right answer is scale-dependent.
    */
  private[graft] def fusedAdaptiveEligible(spark: org.apache.spark.sql.SparkSession,
                                           dir: String): Boolean = {
    val key = "spark.graft.sim.fusedAdaptiveMaxBytes"
    val raw = spark.conf.get(key, (1L << 30).toString)
    // the conf is the fork's only selector: a typo must not silently
    // pick the two-pass path
    val maxBytes = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be a byte count (≤ 0 forces two-pass), got '$raw'"))
    if (maxBytes <= 0) return false
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength <= maxBytes
    } catch { case NonFatal(_) => false }
  }

  /** ONE-PASS fusion of the adaptive probe's two passes (r15, VERDICT
    * r14 #1 — the two-pass shape serialized ~34 driver jobs: narrow
    * probe → checkpoint → escalation stats → checkpoint → semi-join →
    * wide re-probe; at bench scale the wall divides into the job
    * count, not into bytes). Probe WIDE once with the probe position
    * kept ([[ivfProbeSideRanked]]), then compute BOTH tiers from that
    * one scan: the narrow tier's ADC heap sees only pairs with
    * `cell_rank <= p0`, the wide tier all pairs — two bounded heaps in
    * one aggregation ([[TopK.topKPairsCol]]; null ranks nowhere, so
    * `when(rank <= p0, adc)` IS the narrow pass's candidate heap).
    * One exact-cosine rerank over the UNION of both candidate lists
    * (each pair scored once), then two k-heaps selected by candidate-
    * list membership. Escalation is decided IN-PLAN, per query, on the
    * narrow tier's final heap — the [[adaptiveEscalations]] predicate
    * verbatim (`hits < k || kth < next_cos + margin`), with `hits` =
    * the narrow heap's size, `kth` = its last (minimum) cosine, and
    * `next_cos` the [[nextCentroidCosine]] expression computed on the
    * broadcast query side. One CASE then selects the escalated
    * query's wide heap or the easy query's narrow heap — no
    * checkpoint, no stats job, no anti/semi joins.
    *
    * Row identity with the two-pass composition, tier by tier:
    *  - [[topCells]] returns the p nearest cells IN PROBE ORDER, so
    *    the top-p0 set is literally the first p0 elements of the
    *    top-pMax array: `cell_rank <= p0` recovers exactly the narrow
    *    probe side, and the wide side is the whole explode.
    *  - The scan reads the wide probed-cell UNION — a superset of
    *    both passes' unions; the cell equi-join restricts each
    *    query's pairs to ITS OWN probed cells, so per-query candidate
    *    pairs are identical to each fixed-width pass (the same
    *    superset argument the chunked union already rests on).
    *  - ADC heap / rerank / final heap order by (value DESC, c_id
    *    ASC) with the identical expressions (`PqAdcExpr`,
    *    `round(dot/(n·n), 6)`) — so each tier's heap equals the
    *    corresponding fixed-width probe's rows.
    *  - The escalation inputs are identical: the narrow heap IS the
    *    narrow pass's final rows for that query (hits = its size, kth
    *    = its minimum cosine since the heap orders v DESC), a query
    *    with no narrow candidates has an empty heap (hits 0 ⇒
    *    escalate — the two-pass left-join's missing-stats arm), and a
    *    query absent from BOTH tiers emits nothing either way. Chunks
    *    partition queries, so each per-chunk decision sees all of its
    *    query's narrow rows. Spec-pinned fused-vs-two-pass in
    *    SimilaritySpec (both dispatch arms, adaptive and filtered,
    *    escalation regimes none/some/all).
    */
  private def ivfPqAdaptiveFused(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, queries: DataFrame, k: Int,
                                 p0: Int, pMax: Int, margin: Double,
                                 rerank: Int,
                                 predicate: Option[org.apache.spark.sql.Column])
      : DataFrame = {
    requireEpochCoherent(spark, dir, Seq("_centroids", "_codebooks"))
    val centroids = readIndexCentroids(spark, dir)
    // one stats pass at the WIDE width: nq for chunk sizing, the wide
    // probed-cell union for partition pruning (superset of narrow's)
    val stats = ivfProbeSide(queries, centroids, pMax)
      .agg(countDistinct(col("q_id")).as("nq"),
        collect_set(col("cell")).as("cells")).head()
    val nq = stats.getLong(0)
    val probed = stats.getSeq[Int](1).sorted
    // two bounded heaps per query double the per-task selection state
    // — halve the per-chunk query budget (chunk count never changes
    // rows, only memory shape)
    chunkFrames(queries, chunkCountFor(nq, 2 * rerank))
      .map(qc => ivfPqFusedChunk(spark, dir, qc, k, p0, pMax, rerank,
        margin, predicate, centroids, probed))
      .reduce(_.unionByName(_))
  }

  /** One chunk of [[ivfPqAdaptiveFused]]: the wide scan, both tiers'
    * k-heaps, and the per-query escalation CASE, output
    * `(q_id, c_id, cosine, rnk)` — the chunk's final adaptive rows.
    * Mirrors [[ivfPqIndexedTopKChunk]] + [[exactRerank]] +
    * [[adaptiveEscalations]]/[[nextCentroidCosine]] expression for
    * expression — the row-identity proof depends on it.
    */
  private def ivfPqFusedChunk(spark: org.apache.spark.sql.SparkSession,
                              dir: String, queries: DataFrame, k: Int,
                              p0: Int, pMax: Int, rerank: Int, margin: Double,
                              predicate: Option[org.apache.spark.sql.Column],
                              centroids: Array[Array[Double]],
                              probed: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.PqAdcExpr
    val cbs = readIndexCodebooks(spark, dir)
    val probes = ivfProbeSideRanked(queries, centroids, pMax)
    val tomb = tombstones(spark, dir)
    def qualify(df: DataFrame) =
      excludeTombstoned(predicate.fold(df)(df.filter), tomb, "c_id")
    // scan tier: codes only, wide probed cells only (partition +
    // column pruning, same as the fixed-width chunk)
    val codes = qualify(spark.read.parquet(dir)
        .filter(col("cell").isin(probed.map(Int.box): _*)))
      .select(col("cell"), col("c_id"), col("code"))
    val scored = spread(codes).join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc", toCol(PqAdcExpr(toExpr(col("q_id")), toExpr(col("q_emb")),
        toExpr(col("code")), cbs)))
      .select(col("q_id"), col("c_id"), col("adc"), col("cell_rank"))
    // ONE aggregation, two bounded candidate heaps
    val heaps = scored.groupBy(col("q_id").cast("long").as("q_id"))
      .agg(TopK.topKPairsCol(when(col("cell_rank") <= p0, col("adc")),
          col("c_id"), rerank).as("nk"),
        TopK.topKPairsCol(col("adc"), col("c_id"), rerank).as("wk"))
    // candidate union with per-tier membership (≤ 2·rerank rows/query;
    // a pair in both tiers is scored ONCE below)
    val cands = heaps.select(col("q_id"),
        transform(col("nk"), x => x.getField("id")).as("nids"),
        transform(col("wk"), x => x.getField("id")).as("wids"))
      .select(col("q_id"), col("nids"), col("wids"),
        explode(array_distinct(concat(col("nids"), col("wids")))).as("c_id"))
      .select(col("q_id"), col("c_id"),
        array_contains(col("nids"), col("c_id")).as("in_n"),
        array_contains(col("wids"), col("c_id")).as("in_w"))
    // rerank tier: one exact-cosine pass over the union — the
    // exactRerank expressions verbatim — then two k-heaps selected by
    // membership (per tier: exactly exactRerank of that tier's cands)
    val vectors = qualify(spark.read.parquet(dir)
        .filter(col("cell").isin(probed.map(Int.box): _*)))
      .select(col("c_id"), col("c_emb"), normD(col("c_emb")).as("c_nrm"))
    // the escalation signal rides the broadcast query side: max cosine
    // over the query's NOT-probed-at-p0 cells — the [[nextCentroidCosine]]
    // expression verbatim (CellCosinesExpr over all nlist cells; −1
    // when nothing is unprobed), fused into the projection the rerank
    // join broadcasts anyway
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), normD(col("embedding")).as("q_nrm"),
        toCol(graft.functions.CellCosinesExpr(centroids, centroids.length,
          toExpr(col("embedding")))).as("_cc"))
      .filter(col("q_nrm") > 0)
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        when(size(col("_cc")) > p0,
          array_max(slice(col("_cc"), p0 + 1, centroids.length)))
          .otherwise(lit(-1.0)).as("next_cos"))
    val fetched = cands.join(vectors, Seq("c_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine",
        round(dotD(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
      .select(col("q_id"), col("c_id"), col("cosine"), col("in_n"),
        col("in_w"), col("next_cos"))
    val fin = fetched.groupBy(col("q_id").cast("long").as("q_id"))
      .agg(TopK.topKPairsCol(when(col("in_n"), col("cosine")), col("c_id"), k)
          .as("nk"),
        TopK.topKPairsCol(when(col("in_w"), col("cosine")), col("c_id"), k)
          .as("wk"),
        first(col("next_cos")).as("next_cos")) // constant per q_id
    // [[adaptiveEscalations]]'s predicate, per query, on the narrow
    // heap: hits < k (covers the empty-heap/missing-stats arm), or kth
    // cosine — the heap's LAST element, it orders v DESC — beatable by
    // an unprobed cell. CASE keeps element_at off empty heaps (lazy
    // branches), matching the two-pass left-join's null semantics.
    val escalate = when(size(col("nk")) < k, lit(true))
      .otherwise(element_at(col("nk"), size(col("nk"))).getField("v") <
        col("next_cos") + lit(margin))
    fin.select(col("q_id"),
        posexplode(when(escalate, col("wk")).otherwise(col("nk")))
          .as(Seq("pos", "vk")))
      .select(col("q_id"), col("vk.id").as("c_id"), col("vk.v").as("cosine"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Calibrate the adaptive probe's escalation margin FROM DATA
    * (r9 VERDICT #1 — the hardcoded +0.3 was sized for the uniform
    * fixture and measured nowhere else): run the narrow pass over a
    * bounded `sample` of queries, compare against the exact top-k on
    * the index's own contents, and set the margin from the
    * distribution of per-query `gap = kth-cosine − next-centroid-
    * cosine` — the exact quantity the escalation test thresholds
    * (a query escalates iff its gap < margin).
    *
    *   - Every sampled query that MISSES the recall floor (`minHits`
    *     of the exact top-k) at the narrow width must escalate, so
    *     the margin is the max failing gap + `eps`.
    *   - When the whole sample holds the floor narrow (clustered
    *     data — neighbors concentrated in the top cells, centroid
    *     signal well separated), the margin falls back to the
    *     `safetyQuantile` of the gap distribution: the hardest few
    *     percent still escalate as insurance for the unsampled tail.
    *
    * On uniform data the gap barely separates easy from hard queries,
    * so the failing max drives the margin HIGH and most queries
    * escalate — the eager behavior the uniform recall floors require.
    * On clustered data the same rule yields a SMALL margin and the
    * wide pass prices only the tail. One rule, fixture-appropriate
    * cost — measured in `tools.AdaptiveProbe` on both fixtures.
    *
    * Cost: one bounded brute-force (|sample| × corpus — calibrate
    * with a few hundred queries, the sample size bounds the work at
    * every corpus scale) plus one narrow probe; a once-per-index act
    * like the kmeans fit itself, amortized over every query the
    * index ever serves.
    */
  def calibrateAdaptiveMargin(spark: org.apache.spark.sql.SparkSession,
                              dir: String, sample: DataFrame, k: Int = 10,
                              nprobe0: Int = 2, minHits: Int = 3,
                              rerank: Int = 50,
                              safetyQuantile: Double = 0.05,
                              eps: Double = 0.02,
                              predicate: Option[org.apache.spark.sql.Column] =
                                None): Double = {
    val centroids = readIndexCentroids(spark, dir)
    val p0 = math.min(math.max(nprobe0, 1), centroids.length)
    if (p0 == centroids.length) return 0.0 // nothing is ever unprobed
    // `predicate` calibrates the FILTERED regime on itself
    // ([[ivfPqIndexedTopKFiltered]]): under a filter the probed cells
    // hold ~selectivity× fewer qualifying rows, so the narrow pass
    // misses more and the failing-gap rule must see THOSE misses —
    // a margin calibrated unfiltered under-escalates exactly the
    // queries the filter starves (measured: one sf0.1 gate query at
    // margin 0 held 10 narrow rows whose kth beat the centroid proxy
    // yet hit < 3 of the filtered truth).
    val narrow = ivfPqIndexedTopK(spark, dir, sample, k, p0, rerank,
      predicate)
    val corpus = predicate.fold(spark.read.parquet(dir.stripSuffix("/")))(
        spark.read.parquet(dir.stripSuffix("/")).filter)
      .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"))
    // ground truth per sampled query; zero-norm queries (no exact
    // rows, unfixable by escalation) drop out here by construction
    val exact = bruteForceTopK(sample, corpus, k).select("q_id", "c_id")
    val hits = exact.join(
        narrow.select(col("q_id"), col("c_id"), lit(1).as("h")),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id").agg(sum(coalesce(col("h"), lit(0))).as("hits"))
    val kth = narrow.groupBy("q_id")
      .agg(min(col("cosine")).as("kth"), count(lit(1)).as("returned"))
    val gaps = hits
      .join(kth, Seq("q_id"), "left")
      .join(nextCentroidCosine(sample, centroids, p0), Seq("q_id"))
      .select(
        (coalesce(col("kth"), lit(-1.0)) - col("next_cos")).as("gap"),
        (col("hits") >= minHits &&
          coalesce(col("returned"), lit(0L)) >= k).as("ok"))
      .collect().map(r => (r.getDouble(0), r.getBoolean(1)))
    require(gaps.nonEmpty, "calibrateAdaptiveMargin: empty sample")
    val failing = gaps.collect { case (g, false) => g }
    if (failing.nonEmpty) failing.max + eps
    else {
      val sorted = gaps.map(_._1).sorted
      sorted(math.min(sorted.length - 1,
        (safetyQuantile * sorted.length).toInt))
    }
  }

  /** Outcome of [[adviseProbeMode]]: the calibrated margin, the exact
    * escalation fraction the adaptive probe would act on over the
    * sample, the fitted per-call overhead and marginal per-query cost
    * of each probe mode, and the recommendation for the
    * large-workload (marginal-cost) regime with its measured
    * break-even query count. Every field is a measurement on THIS
    * index on THIS machine — the advice carries its own evidence.
    * `breakEvenQueries` = the per-call query-batch size above which
    * adaptive is cheaper (0 = always, Long.MaxValue = never at any
    * batch size).
    */
  final case class ProbeModeAdvice(margin: Double,
                                   escalationFraction: Double,
                                   adaptiveOverhead: Double,
                                   adaptivePerQuery: Double,
                                   wideOverhead: Double,
                                   widePerQuery: Double,
                                   breakEvenQueries: Long,
                                   recommendAdaptive: Boolean)

  /** Measure, once per index, which probe mode is cheaper HERE — the
    * operator-facing answer to "fixed or adaptive?" that SCALE.md's
    * fixture table otherwise leaves as reading homework. The adaptive
    * probe's economy is corpus-shape- and workload-dependent: its
    * second pass and escalation signal cost a fixed per-CALL overhead
    * that dominates tiny query batches, while its narrow-pass saving
    * is per-QUERY and dominates production batches. A raw wall A/B on
    * a bounded sample therefore mispredicts the production regime —
    * on the clustered evidence fixture, 256 sampled queries measure
    * adaptive ≈ wide (overhead-bound) while the 2000-query workload
    * measures 0.51× — so the advice fits the two regimes apart with
    * a TWO-POINT fit: time both modes interleaved at half and full
    * sample (2 rounds each, per-cell min — same-run ratios are the
    * stable signal on a drifting box), solve `wall = overhead +
    * perQuery·n` per mode, and recommend on the MARGINAL per-query
    * cost, reporting the break-even batch size where the overhead
    * amortizes. When the marginals measure inverted (uniform-ish data
    * where escalation is near-total and adaptive's marginal exceeds
    * wide's), the recommendation is fixed at every batch size —
    * honest, that is the fixture where adaptive loses. Cost: four
    * bounded probe passes on top of calibration's brute-force pass —
    * once-per-index work in the same class as the k-means fit,
    * amortized over every query the index ever serves. Recall is NOT
    * part of the decision because the adaptive contract already pins
    * it: escalated queries return exactly the wide rows and
    * escalation only widens probed cells, so at the calibrated margin
    * the floors match by construction (spec-pinned in
    * SimilaritySpec). The sample must carry (vec_id, embedding) rows
    * — the same shape [[calibrateAdaptiveMargin]] takes.
    */
  def adviseProbeMode(spark: org.apache.spark.sql.SparkSession,
                      dir: String, sample: DataFrame, k: Int = 10,
                      nprobe0: Int = 2, nprobeMax: Int = 8,
                      minHits: Int = 3, rerank: Int = 50): ProbeModeAdvice = {
    val margin = calibrateAdaptiveMargin(spark, dir, sample, k, nprobe0,
      minHits, rerank)
    val centroids = readIndexCentroids(spark, dir)
    val p0 = math.min(math.max(nprobe0, 1), centroids.length)
    val pMax = math.min(math.max(nprobeMax, p0), centroids.length)
    val full = sample.localCheckpoint()
    val nFull = full.count()
    require(nFull >= 8, s"adviseProbeMode: sample has $nFull rows — the " +
      "two-point fit needs at least 8 (use the 256-query calibration sample)")
    val nHalf = nFull / 2
    val half = full.orderBy(col("vec_id")).limit(nHalf.toInt).localCheckpoint()
    val narrow = ivfPqIndexedTopK(spark, dir, full, k, p0, rerank)
      .localCheckpoint()
    val escalated =
      adaptiveEscalations(full, narrow, centroids, k, p0, margin).count()
    def wall(f: () => DataFrame): Double = {
      val t0 = System.nanoTime(); f().count(); (System.nanoTime() - t0) / 1e9
    }
    def adaptive(qs: DataFrame)() = ivfPqIndexedTopKAdaptive(spark, dir, qs,
      k, p0, pMax, margin, rerank)
    def wide(qs: DataFrame)() = ivfPqIndexedTopK(spark, dir, qs, k, pMax,
      rerank)
    // interleaved best-of-2 per (mode, size) cell
    val walls = (1 to 2).map { _ =>
      (wall(adaptive(half)), wall(wide(half)),
        wall(adaptive(full)), wall(wide(full)))
    }
    val (aHalf, wHalf) = (walls.map(_._1).min, walls.map(_._2).min)
    val (aFull, wFull) = (walls.map(_._3).min, walls.map(_._4).min)
    // per-mode fit; marginals clamped at 0 (a noisy run can measure
    // the larger batch faster — that reads as "free queries", not a
    // negative cost)
    def fit(wHalfS: Double, wFullS: Double): (Double, Double) = {
      val m = math.max(0.0, (wFullS - wHalfS) / (nFull - nHalf))
      (math.max(0.0, wHalfS - m * nHalf), m)
    }
    val (oA, mA) = fit(aHalf, aFull)
    val (oW, mW) = fit(wHalf, wFull)
    val recommend = if (mW != mA) mA < mW else aFull < wFull
    // the two advice fields must agree on a marginal-cost TIE: the
    // recommendation falls back to the full-sample walls, so the
    // break-even follows the same verdict — 0 ("adaptive from any
    // batch size", its wall was lower at equal marginals) when
    // recommending, never otherwise
    val breakEven =
      if (mW > mA) math.max(0L, math.ceil((oA - oW) / (mW - mA)).toLong)
      else if (mW == mA && recommend) 0L
      else Long.MaxValue
    ProbeModeAdvice(margin,
      if (nFull == 0) 0.0 else escalated.toDouble / nFull,
      oA, mA, oW, mW, breakEven, recommend)
  }

  /** Freshness composition (the lambda shape): top-k over the
    * persisted index PLUS a small not-yet-appended delta corpus —
    * what a serving layer queries between ingest batches, so new
    * vectors are searchable the moment they exist instead of after
    * the next [[appendToIvfPqIndex]]. The index side runs the normal
    * pruned two-tier probe; the delta side is EXACT brute force
    * (deltas are batch-sized by definition — if the delta outgrows
    * brute force it should have been appended); the merged per-query
    * top-k re-ranks the union. A `c_id` present on both sides keeps
    * the DELTA side's score: for a delta that merely overlaps
    * already-appended data the two scores are identical so the
    * preference is free, but a delta that carries an UPDATED
    * embedding for an indexed id must win — an arbitrary
    * dropDuplicates could rank the stale indexed vector (r8 ADVICE).
    *
    * Tombstones shadow BOTH sides ([[deleteFromIndex]]'s delete-by-id
    * contract): the indexed probe excludes them at the scan, and the
    * delta result is anti-joined here — a deleted id offered again
    * through the freshness path must not resurface before the
    * compaction that purges its tombstone.
    */
  def ivfPqIndexedTopKWithDelta(spark: org.apache.spark.sql.SparkSession,
                                dir: String, delta: DataFrame,
                                queries: DataFrame, k: Int = 10,
                                nprobe: Int = 3, rerank: Int = 50): DataFrame =
    mergeIndexedWithDelta(
      ivfPqIndexedTopK(spark, dir, queries, k, nprobe, rerank),
      excludeTombstoned(bruteForceTopK(queries, delta, k),
        tombstones(spark, dir), "c_id"), k)

  /** Freshness composition for the LSH index family — the
    * [[ivfPqIndexedTopKWithDelta]] lambda shape over a
    * [[buildLshIndexAdaptive]] table, completing the symmetry between
    * the two persisted families: bucket-pruned probe over the
    * persisted index ∪ exact brute force over the not-yet-appended
    * delta, merged per-query top-k with delta-side priority on id
    * collision. Sketch params come from `<table>_meta` exactly like
    * [[lshIndexedTopKAuto]].
    */
  def lshIndexedTopKWithDelta(spark: org.apache.spark.sql.SparkSession,
                              table: String, delta: DataFrame,
                              queries: DataFrame, k: Int = 10,
                              probeDist: Int = 2,
                              maxProbe: Int = 100000): DataFrame =
    mergeIndexedWithDelta(
      lshIndexedTopKAuto(spark, table, queries, k, probeDist, maxProbe),
      bruteForceTopK(queries, delta, k), k)

  /** Shared delta merge: union the two per-query candidate lists, on
    * a (q_id, c_id) collision keep the DELTA row's cosine (struct max
    * on (_side, cosine) — side dominates, so the freshest score
    * survives regardless of which is numerically larger), then
    * re-rank to the final top-k.
    */
  private def mergeIndexedWithDelta(indexed: DataFrame, fresh: DataFrame,
                                    k: Int): DataFrame = {
    val merged = indexed
        .select(col("q_id"), col("c_id"), col("cosine"), lit(0).as("_side"))
      .unionByName(fresh
        .select(col("q_id"), col("c_id"), col("cosine"), lit(1).as("_side")))
      .groupBy(col("q_id"), col("c_id"))
      .agg(max(struct(col("_side"), col("cosine"))).as("_m"))
      .select(col("q_id"), col("c_id"), col("_m.cosine").as("cosine"))
    TopK.topKByLongKey(merged, "q_id", "cosine", "c_id", k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  /** Read back a persisted index's coarse centroids (`<dir>_centroids`
    * — nlist tiny rows, trivially collectible). Shared by the indexed
    * query paths and the frozen-model appends so all of them see the
    * SAME quantizer by construction.
    */
  /** Session-lifetime cache of persisted-index MODEL state (centroids,
    * codebooks, binary signing meta), keyed by (model-tree path, model
    * EPOCH uuid) — r14 optimization (guide §1.2/§5: the probe paths
    * paid 2–3 collect jobs of immutable model rows per call, and the
    * adaptive/filtered probes re-read the same centroids 3× per
    * query; measured 16 jobs per `ivfPqIndexedTopK` at bench scale,
    * of which the model loads are pure scheduling latency).
    *
    * Correctness rests on the existing epoch contract
    * ([[rewriteInPlace]]): every build/refit stamps a FRESH uuid into
    * each model tree, compaction carries the old uuid forward only
    * because the model is byte-identical, and appends never touch the
    * model trees. So a (path, epoch) pair names immutable bytes and
    * can never serve stale state. A tree with NO epoch marker (hand-
    * assembled index) has no safe token and is read uncached, exactly
    * as before. Same memo class the engine already carries for the
    * ad-hoc paths ([[ivfIndexCache]] — the trained k-means — and
    * `Tables.cachedCount`): model/metadata, never query results.
    */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  def clearModelCache(): Unit = modelCache.clear()

  private def cachedModel[T <: AnyRef](spark: org.apache.spark.sql.SparkSession,
                                       tree: String)(load: => T): T = {
    val fs = new org.apache.hadoop.fs.Path(tree)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readEpoch(fs, tree) match {
      case None => load
      case Some(epoch) =>
        val key = (tree.stripSuffix("/"), epoch)
        val hit = modelCache.get(key)
        if (hit != null) return hit.asInstanceOf[T]
        val v = load
        // re-read the epoch AFTER loading: a concurrent
        // rewriteInPlace can swap the tree mid-load, making v the NEW
        // tree's bytes — cached under the OLD epoch key that read
        // would be sticky for the JVM where the uncached read was
        // merely transient (r14 ADVICE). Insert only when provably
        // coherent; serving v uncached on mismatch keeps the
        // pre-cache transient semantics.
        if (readEpoch(fs, tree).contains(epoch)) {
          // evict THIS path's stale epochs so an epoch-churning
          // (rebuild-heavy streaming) session keeps one live entry
          // per path instead of tripping the old size>512 clear()
          // that dumped every hot entry for unrelated paths
          val it = modelCache.keySet().iterator()
          while (it.hasNext) {
            val k = it.next()
            if (k._1 == key._1 && k._2 != epoch) it.remove()
          }
          // backstop for unbounded DISTINCT paths (temp-dir-heavy
          // suites) — per-path eviction alone cannot bound those
          if (modelCache.size > 512) modelCache.clear()
          modelCache.put(key, v)
        }
        v
    }
  }

  /** Test hook: the live cache keys for one model tree path (epoch
    * churn must keep this at ≤ 1 entry — the eviction contract). */
  private[graft] def modelCacheKeysFor(tree: String): Seq[String] = {
    val p = tree.stripSuffix("/")
    import scala.jdk.CollectionConverters._
    modelCache.keySet().asScala.toSeq.collect { case (`p`, e) => e }
  }

  /** The binary family's signing planes, reconstructed from the
    * persisted `(nbits, dim, seed)` meta and grouped into 62-bit
    * words — epoch-cached like the IVF model trees (the planes are a
    * pure function of the meta row, so caching the grouped blocks
    * also skips the O(nbits·dim) gaussian regeneration per probe).
    */
  private def readBinaryBlocks(spark: org.apache.spark.sql.SparkSession,
                               dir: String): Seq[Array[Array[Double]]] =
    cachedModel(spark, dir.stripSuffix("/") + "_meta") {
      val m = spark.read.parquet(dir.stripSuffix("/") + "_meta").head()
      hyperplanes(m.getAs[Int]("nbits"), m.getAs[Int]("dim"),
        m.getAs[Long]("seed")).grouped(62).toSeq
    }

  private[graft] def readIndexCentroids(spark: org.apache.spark.sql.SparkSession,
                                        dir: String): Array[Array[Double]] =
    cachedModel(spark, dir.stripSuffix("/") + "_centroids") {
      spark.read.parquet(dir.stripSuffix("/") + "_centroids")
        .select(col("cell"), col("centroid")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
    }

  /** Read back a persisted index's PQ codebooks (`<dir>_codebooks` —
    * m·ksub tiny rows), failing LOUDLY on a missing or partially
    * written table: an empty directory would otherwise surface as an
    * opaque `empty.max`, and a sparse (sub, code) grid as an NPE deep
    * in the ADC scan.
    */
  private[graft] def readIndexCodebooks(spark: org.apache.spark.sql.SparkSession,
                                        dir: String): graft.functions.Pq.Codebooks =
    cachedModel(spark, dir.stripSuffix("/") + "_codebooks") {
      readIndexCodebooksUncached(spark, dir)
    }

  private def readIndexCodebooksUncached(spark: org.apache.spark.sql.SparkSession,
                                         dir: String): graft.functions.Pq.Codebooks = {
    val cbPath = dir.stripSuffix("/") + "_codebooks"
    val cbRows = spark.read.parquet(cbPath)
      .select(col("sub"), col("code"), col("vals")).collect()
    require(cbRows.nonEmpty,
      s"readIndexCodebooks: no codebook rows at $cbPath — the index is " +
        "missing or partially written; rebuild with buildIvfPqIndex")
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val arr = Array.ofDim[Array[Double]](m, ksub)
    cbRows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val missing = for {
      j <- 0 until m; r <- 0 until ksub if arr(j)(r) == null
    } yield s"($j,$r)"
    require(missing.isEmpty,
      s"readIndexCodebooks: codebook grid at $cbPath is sparse — missing " +
        s"${missing.take(5).mkString(", ")} of ${m}x$ksub entries; " +
        "the index is partially written, rebuild with buildIvfPqIndex")
    arr.map(_.toArray)
  }

  private def ivfPqIndexedTopKChunk(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, queries: DataFrame, k: Int,
                                    nprobe: Int, rerank: Int,
                                    predicate: Option[org.apache.spark.sql.Column],
                                    centroids: Array[Array[Double]],
                                    probed: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.PqAdcExpr
    val cbs = readIndexCodebooks(spark, dir)
    val probes = ivfProbeSide(queries, centroids, nprobe)
    // FILTERED search (a `metaCols` build): the predicate restricts
    // the stored rows BEFORE ADC candidate selection, in the SAME scan
    // the cell filter prunes — cell is a partition column
    // (PartitionFilters) and the metadata predicate reaches the
    // parquet row groups (PushedFilters), both spec-asserted. Applied
    // after selection instead, a selective predicate silently
    // under-returns (~k·selectivity survivors per query).
    val tomb = tombstones(spark, dir)
    def qualify(df: DataFrame) =
      excludeTombstoned(predicate.fold(df)(df.filter), tomb, "c_id")
    // scan tier: codes only, probed cells only (partition pruning +
    // column pruning — the vectors never leave disk here)
    val codes = qualify(spark.read.parquet(dir)
        .filter(col("cell").isin(probed.map(Int.box): _*)))
      .select(col("cell"), col("c_id"), col("code"))
    val scored = spread(codes).join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adc", toCol(PqAdcExpr(toExpr(col("q_id")), toExpr(col("q_emb")),
        toExpr(col("code")), cbs)))
      .select(col("q_id"), col("c_id"), col("adc"))
    val cands = TopK.topKByLongKey(scored, "q_id", "adc", "c_id", rerank)
      .select("q_id", "c_id")
    // rerank tier: vectors of the probed cells, joined down to the
    // candidate ids (the candidates already satisfy the predicate —
    // re-qualifying here is belt-and-braces against a future caller
    // widening cands)
    val vectors = qualify(spark.read.parquet(dir)
        .filter(col("cell").isin(probed.map(Int.box): _*)))
      .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      normD(col("embedding")).as("q_nrm")).filter(col("q_nrm") > 0)
    exactRerank(cands, vectors, q, k)
  }

  /** FILTERED top-k against a [[buildIvfPqIndex]] directory built
    * with `metaCols` — search under a metadata predicate, the
    * production vector-store operator (filter by language / license /
    * source, then rank). The predicate lands in the SAME pruned scan
    * as the probe's cell filter: partition pruning keeps the read to
    * the probed cells, the pushed predicate drops non-qualifying row
    * groups, and ADC selection ranks only qualifying rows — every
    * query can still return k results, where post-filtering the
    * unfiltered top-k under-returns ~k·selectivity rows silently (the
    * failure mode the binary family's spec pins).
    *
    * The filter×probe interaction is the hard part: a SELECTIVE
    * predicate can empty a query's probed cells (the qualifying
    * neighbors live elsewhere), so a fixed narrow nprobe silently
    * starves exactly the queries the filter hits hardest. Two-tier
    * answer, mirroring [[ivfPqIndexedTopKAdaptive]]:
    *  - probe `nprobe0` cells under the predicate, then RE-PROBE at
    *    `nprobeMax` every query whose first pass is beatable — fewer
    *    than k rows returned (the emptied-cell signature) or kth
    *    cosine below an unprobed centroid's cosine + `margin`
    *    ([[adaptiveEscalations]] — the centroid signal is computed on
    *    the unfiltered geometry, a conservative proxy under a filter:
    *    it can only over-escalate, never under).
    *  - when the predicate is so selective the qualifying corpus is
    *    small (`bruteBelow` > 0 and survivor count ≤ it), skip the
    *    probe entirely and brute-force the qualifying rows exactly —
    *    a pushed-filter scan of survivor-count vectors beats probing
    *    machinery built for millions.
    * At `nprobeMax` = nlist an escalated query scans ALL qualifying
    * codes — under-return then means fewer than k qualifying
    * neighbors exist, which is the correct answer.
    */
  def ivfPqIndexedTopKFiltered(spark: org.apache.spark.sql.SparkSession,
                               dir: String, queries: DataFrame,
                               predicate: org.apache.spark.sql.Column,
                               k: Int = 10, nprobe0: Int = 6,
                               nprobeMax: Int = 16, margin: Double = 0.0,
                               rerank: Int = 50,
                               bruteBelow: Long = 0L): DataFrame = {
    requireEpochCoherent(spark, dir, Seq("_centroids", "_codebooks"))
    if (bruteBelow > 0) {
      // survivor census: a pushed-filter, footer-bounded count — the
      // fall-through gate for predicates selective enough that the
      // qualifying corpus fits brute force (tombstones excluded: the
      // brute tier must not rank deleted rows either)
      val tomb = tombstones(spark, dir)
      val live = excludeTombstoned(
        spark.read.parquet(dir).filter(predicate), tomb, "c_id")
      val survivors = live.count()
      if (survivors <= bruteBelow)
        return bruteForceTopK(queries,
          live.select(col("c_id").as("vec_id"), col("c_emb").as("embedding")), k)
    }
    val centroids = readIndexCentroids(spark, dir)
    val p0 = math.min(math.max(nprobe0, 1), centroids.length)
    val pMax = math.min(math.max(nprobeMax, p0), centroids.length)
    if (pMax > p0 && fusedAdaptiveEligible(spark, dir))
      return ivfPqAdaptiveFused(spark, dir, queries, k, p0, pMax, margin,
        rerank, Some(predicate))
    // same fused stats job as ivfPqIndexedTopK (count + probed cells
    // in one pass over the query side)
    def pass(qs: DataFrame, np: Int) = {
      val stats = ivfProbeSide(qs, centroids, np)
        .agg(countDistinct(col("q_id")).as("nq"),
          collect_set(col("cell")).as("cells")).head()
      val probed = stats.getSeq[Int](1).sorted
      chunkFrames(qs, chunkCountFor(stats.getLong(0), rerank))
        .map(qc => ivfPqIndexedTopKChunk(spark, dir, qc, k, np, rerank,
          Some(predicate), centroids, probed))
        .reduce(_.unionByName(_))
    }
    // materialized for the same reason as the adaptive probe: the
    // narrow pass feeds stats, anti-join, and semi-join branches
    val first = pass(queries, p0).localCheckpoint()
    if (pMax == p0) return first
    val escalated = adaptiveEscalations(queries, first, centroids, k, p0,
      margin).localCheckpoint()
    val hardQueries = queries.join(escalated,
      queries("vec_id") === escalated("q_id"), "left_semi")
    first.join(escalated, Seq("q_id"), "left_anti")
      .unionByName(pass(hardQueries, pMax))
  }

  /** Fixed-seed random hyperplanes; deterministic across runs (also
    * embedded as literals in the DuckDB oracle SQL, so visibility is
    * package-wide). */
  private[graft] def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Sign-sketch signature of the embedding column as an int bucket
    * id — the fused [[graft.functions.SignBandsExpr]] loop (the
    * composed per-plane `when(dot>=0)` spelling walks a boxed
    * constant array per plane and measurably dominates corpus-side
    * signing; the fused form is bit-identical, so the DuckDB
    * hyperplane-literal oracles are unchanged). */
  private def signature(emb: org.apache.spark.sql.Column, planes: Array[Array[Double]]) =
    graft.functions.VectorFunctions.signBands(emb, planes).cast("int")

  /** Approximate top-k: candidates share the query's LSH bucket
    * (multi-probed with every signature within `probeDist` bit flips
    * to cut misses), then exact cosine rerank within candidates.
    *
    * Defaults (8 bits, probe radius 2) scan ~14 % of a uniform corpus
    * per query — tune nBits up / probeDist down as real data gets more
    * clustered (near-dups concentrate in one bucket).
    */
  /** Query side of every LSH path: signature + multi-probe explode
    * (one bucket row per mask within `probeDist` bit flips). */
  private def lshProbeSide(queries: DataFrame, planes: Array[Array[Double]],
                           nBits: Int, probeDist: Int): DataFrame = {
    val masks = (0 until (1 << nBits))
      .filter(m => Integer.bitCount(m) <= probeDist)
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normD(col("embedding")).as("q_nrm"))
      .filter(col("q_nrm") > 0) // zero-norm: cosine undefined (NaN)
      .withColumn("sig", signature(col("q_emb"), planes))
      .withColumn("bucket", explode(array(
        masks.map(m => col("sig").bitwiseXOR(m)): _*)))
  }

  /** Candidate scoring shared by [[lshTopK]] and [[lshIndexedTopK]]:
    * bucket equi-join, exact cosine, dedup (multi-probe may hit a
    * pair twice), total-order rank. ONE definition so the ad-hoc and
    * indexed paths cannot drift apart. */
  private def scoreAndRank(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = spread(c).join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dotD(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
    // multi-probe may score a pair once per shared bucket — always
    // with the identical cosine (same deterministic arithmetic on the
    // same operands) — so dedup happens INSIDE the bounded heap
    // (TopKPairsAgg(dedup): skip exact (v,id) twins) rather than as
    // an upstream distinct(), whose exchange shuffled the FULL
    // candidate stream before the heap's map-side partials could
    // shrink it to ≤ k rows per query (r15, guide §2.3/§2.4 — one
    // exchange removed from every LSH probe; row-identity spec-pinned
    // against the distinct()+heap form).
    TopK.topKByLongKeyDistinct(
        scored.select(col("q_id"), col("c_id"), col("cosine")),
        "q_id", "cosine", "c_id", k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              nBits: Int = 8, probeDist: Int = 2, dim: Int = 64,
              seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val c = corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        normD(col("embedding")).as("c_nrm"))
      .filter(col("c_nrm") > 0) // zero-norm: cosine undefined (NaN)
      .withColumn("bucket", signature(col("c_emb"), planes))
    scoreAndRank(c, lshProbeSide(queries, planes, nBits, probeDist), k)
  }

  /** Adaptive signature width — the [[graft.ops.Dedup.annParams]]
    * pattern applied to the similarity side: 2^nBits buckets sized so
    * each holds ~`targetBucket` rows, i.e. nBits ∝ log2(n/target).
    * This is the knob that keeps per-query candidate work BOUNDED as
    * the corpus grows: a FIXED 8-bit space saturates (at 500k vectors
    * each of the 256 buckets holds ~2k rows and a radius-2 multiprobe
    * scans ~14% of the corpus per query — measured 98× time on a 5×
    * data step at sf25, VERDICT r6 #1), while adaptive bits hold the
    * probed row count at ~masks·targetBucket regardless of n.
    * Deterministic from (n, targetBucket) so the hyperplane-literal
    * DuckDB oracle can reproduce the exact choice; floors at the
    * catalog-pinned 8 bits for every gate scale (n ≤ 20480 at
    * target 80 — sf0.01/sf0.1/sf1 all resolve to 8; SimilaritySpec
    * pins the mapping). Capped at 20 bits (1M buckets ≈ an 80M-row
    * corpus at target 80; past that raise targetBucket — more probed
    * rows per query — rather than the mask count).
    */
  private[graft] def lshBits(n: Long, targetBucket: Int = 80): Int =
    math.min(20, math.max(8, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))

  /** Multiprobe mask count for (nBits, probeDist): the size of the
    * Hamming ball a probe explodes into (Σ C(nBits, i) for i ≤
    * probeDist) — callers sizing a query set against
    * [[lshIndexedTopK]]'s maxProbe contract divide by this. */
  private[graft] def probeMaskCount(nBits: Int, probeDist: Int = 2): Int =
    (0 to probeDist).map { d =>
      var c = 1L
      for (i <- 1 to d) c = c * (nBits - i + 1) / i
      c.toInt
    }.sum

  /** Probe radius for the LSH delta probe — a CONSTANT 3, and the r11
    * VERDICT #5 hypothesis behind a regime-derived radius (drop back
    * to 2 where adaptive bits are sized to hold buckets at ~target,
    * "per-neighbor bucket recall rises with bits") is REFUTED by
    * measurement, which is why this stayed a constant: the
    * `tools.AppendProbe lshdelta` protocol (r12) ran both radii at
    * their own catalog query bounds per rung —
    *
    *   sf1  (8 bits):  radius 2 min=2 below3=1/400;  radius 3 min=4, 0
    *   sf5  (10 bits): radius 2 min=2 below3=8/1607; radius 3 min=3, 0
    *   sf25 (12 bits): radius 2 min=0 below3=16/1139; radius 3 min=3, 0
    *
    * — the radius-2 floor misses GROW with bits, exactly as the
    * geometry says they must (a neighbor at angle θ differs in
    * ~bits·θ/π sign bits in expectation, so a FIXED Hamming radius
    * covers a shrinking share of true neighbors as bits grow). The
    * radius-3 mask bill at 12 bits (299 masks, ~2.5× radius 2) is
    * load-bearing recall, not insurance. At still-higher bit regimes
    * raise recall by unioning independent seeds (the
    * [[graft.ops.Dedup.embeddingNearDupsAnnMulti]] shape — linear in
    * seeds), never by radius 4+ (mask count is O(bits^radius)).
    * Callers derive the probe's QUERY BOUND from
    * probeMaskCount(bits, this), so bound and probe cannot drift.
    */
  private[graft] val lshDeltaProbeDist: Int = 3

  /** [[lshTopK]] with nBits sized from the corpus row count (one
    * metadata-cheap count pass; see [[lshBits]]). probeDist is HELD at
    * its default as bits grow — recall for a fixed cosine decays
    * slowly (multiprobe radius covers a constant Hamming ball while
    * the ball's share of the space shrinks); at 100 TB raise recall by
    * unioning independent seeds, the [[graft.ops.Dedup.embeddingNearDupsAnnMulti]]
    * shape, not by widening the probe radius (mask count is
    * O(nBits^probeDist)).
    */
  def lshTopKAdaptive(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                      probeDist: Int = 2, dim: Int = 64, seed: Long = 42L,
                      targetBucket: Int = 80, n: Long = -1L): DataFrame =
    lshTopK(queries, corpus, k,
      lshBits(if (n < 0) corpus.count() else n, targetBucket),
      probeDist, dim, seed)

  /** Persist the corpus as an LSH index: signatures precomputed once,
    * stored as a parquet table BUCKETED on the signature. Build cost
    * is one pass + one shuffle; after that every probe is a bucket-
    * pruned point lookup — the index-once / query-many shape a vector
    * store needs at 100 TB (per-query cost O(probed buckets), not
    * O(corpus)).
    */
  def buildLshIndex(corpus: DataFrame, table: String, nBits: Int = 8,
                    dim: Int = 64, seed: Long = 42L, buckets: Int = 32,
                    metaCols: Seq[String] = Nil): Unit = {
    // Rebuild must be idempotent across JVMs: a fresh session's
    // metastore does not know the table, but the managed location may
    // survive on disk from a previous run and saveAsTable refuses to
    // adopt a non-empty location (LOCATION_ALREADY_EXISTS). Drop both
    // the catalog entry and any orphaned directory first.
    val spark = corpus.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    val planes = hyperplanes(nBits, dim, seed)
    // `metaCols` stores extra metadata columns WITH the postings so
    // the filtered probe ([[lshIndexedTopKFiltered]]) pushes its
    // predicate into the SAME bucket-pruned scan — the
    // buildBinaryIndex/buildIvfPqIndex contract, completing the
    // filtered-search matrix across all three persisted families.
    // They cost their width at build and nothing on unfiltered probes
    // (column pruning).
    val c = corpus.select(col("vec_id").as("c_id") +:
        col("embedding").as("c_emb") +:
        normD(col("embedding")).as("c_nrm") +: metaCols.map(col): _*)
      .filter(col("c_nrm") > 0) // zero-norm: cosine undefined (NaN)
      .withColumn("bucket", signature(col("c_emb"), planes))
    graft.sinks.Routing.writeBucketed(c, table, "bucket", buckets)
    // sketch parameters persist WITH the index (`<table>_meta`, one
    // row): a probe computing signatures with different nBits/dim/seed
    // than the stored buckets would silently find nothing — the same
    // params-travel-with-state rule as DedupIngest.startNearDup. The
    // auto probe (lshIndexedTopKAuto) reads them back, so a query
    // session needs nothing but the table name.
    val spark2 = corpus.sparkSession
    import spark2.implicits._
    spark2.sql(s"DROP TABLE IF EXISTS `${table}_meta`")
    val metaLoc = new org.apache.hadoop.fs.Path(
      spark2.sessionState.conf.warehousePath, s"${table.toLowerCase}_meta")
    metaLoc.getFileSystem(spark2.sparkContext.hadoopConfiguration)
      .delete(metaLoc, true)
    Seq((nBits, dim, seed)).toDF("nbits", "dim", "seed")
      .coalesce(1).write.saveAsTable(s"${table}_meta")
    // epoch-stamp the meta table's location so probes can memoize the
    // params read (r15, VERDICT r14 #5): the sketch params are frozen
    // for the table's lifetime — appends sign with them, only a full
    // rebuild rewrites them, and the rebuild lands here and stamps a
    // FRESH epoch. Same (path, epoch)-names-immutable-bytes contract
    // as the IVF model trees; the underscore file is invisible to
    // every parquet reader. Pre-existing tables without a marker read
    // uncached, exactly as before.
    val fs2 = metaLoc.getFileSystem(spark2.sparkContext.hadoopConfiguration)
    stampEpoch(fs2, lshMetaLocation(spark2, table), java.util.UUID.randomUUID.toString)
  }

  /** Filesystem location of `<table>_meta` as registered in the
    * catalog (managed or external), the epoch/memo key for
    * [[lshMeta]]. */
  private def lshMetaLocation(spark: org.apache.spark.sql.SparkSession,
                              table: String): String =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_meta"))
        .location).toString

  /** Sketch params `(nbits, dim, seed)` of a [[buildLshIndex]] table,
    * memoized per (meta location, epoch) via [[cachedModel]] — every
    * probe/append previously paid one collect job re-reading the
    * frozen one-row table (r15, VERDICT r14 #5). Unmarked tables
    * (built before epoch stamping) read uncached. */
  private def lshMeta(spark: org.apache.spark.sql.SparkSession,
                      table: String): (Int, Int, Long) =
    cachedModel(spark, lshMetaLocation(spark, table)) {
      val m = spark.table(s"${table}_meta").collect().head
      (m.getAs[Int]("nbits"), m.getAs[Int]("dim"), m.getAs[Long]("seed"))
    }

  /** [[buildLshIndex]] with nBits sized from the corpus row count
    * ([[lshBits]]) and the FILE-bucket count scaled with the signature
    * space (2^(nBits−5), floor 32 — so a probed signature maps to a
    * bounded slice of a bucket file instead of 1/32 of a saturated
    * space; resolves to the pinned (8 bits, 32 buckets) at every gate
    * scale). Parameters land in `<table>_meta` for
    * [[lshIndexedTopKAuto]].
    */
  def buildLshIndexAdaptive(corpus: DataFrame, table: String, dim: Int = 64,
                            seed: Long = 42L, targetBucket: Int = 80,
                            n: Long = -1L, metaCols: Seq[String] = Nil): Int = {
    val nBits = lshBits(if (n < 0) corpus.count() else n, targetBucket)
    buildLshIndex(corpus, table, nBits, dim, seed,
      buckets = math.max(32, 1 << math.max(0, nBits - 5)), metaCols = metaCols)
    nBits
  }

  /** Frozen-model append for the LSH index family, completing the
    * three persisted indexes' maintenance story ([[appendToIvfIndex]]
    * / [[appendToIvfPqIndex]] are the IVF forms): the batch is signed
    * with the PERSISTED sketch params (`<table>_meta` — different
    * nBits/dim/seed would bucket where no probe looks, the same
    * params-travel-with-state rule the auto probe relies on) and
    * inserted into the bucketed table; Spark's bucketing-on-write
    * keeps every new file probe-prunable, and signatures are
    * deterministic given the params, so appended rows land exactly
    * where a full rebuild would put them. O(batch): one signature
    * projection + one bucketed write, existing files untouched.
    * Bulk/ad-hoc retry semantics (insert-append; a failed-and-retried
    * append can duplicate — rebuild or dedup-verify on failure): the
    * STREAMING embedding path with exactly-once replay is
    * [[graft.etl.DedupIngest.admitBatchEmbedding]]'s band index +
    * [[graft.etl.IndexIngest]], which carry per-batch partitions.
    */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                       batch: DataFrame): Unit = {
    require(spark.catalog.tableExists(s"${table}_meta"),
      s"appendToLshIndex: no ${table}_meta — the index is missing or " +
        "partially written; rebuild with buildLshIndexAdaptive")
    val (nbits, dim, seed) = lshMeta(spark, table)
    val planes = hyperplanes(nbits, dim, seed)
    // an index built with `metaCols` stores metadata beside the
    // postings; appended rows must carry the SAME columns in the
    // TABLE's column order (insertInto is positional) — a batch
    // missing one fails analysis loudly here, the
    // appendToBinaryIndex contract
    val storedCols = spark.table(table).schema.fieldNames.toSeq
    val signed = batch.select(col("vec_id").as("c_id") +:
        col("embedding").as("c_emb") +:
        normD(col("embedding")).as("c_nrm") +:
        storedCols.filterNot(
          Set("c_id", "c_emb", "c_nrm", "bucket")).map(col): _*)
      .filter(col("c_nrm") > 0)
      .withColumn("bucket", signature(col("c_emb"), planes))
    signed.select(storedCols.map(col): _*)
      .write.mode("append").insertInto(table)
  }

  /** Top-k against a [[buildLshIndexAdaptive]] table, sketch params
    * read from `<table>_meta` — fails loudly if the meta table is
    * absent (an index built by the fixed-param [[buildLshIndex]]
    * before this round, or a partial build).
    */
  def lshIndexedTopKAuto(spark: org.apache.spark.sql.SparkSession, table: String,
                         queries: DataFrame, k: Int = 10, probeDist: Int = 2,
                         maxProbe: Int = 100000): DataFrame = {
    require(spark.catalog.tableExists(s"${table}_meta"),
      s"lshIndexedTopKAuto: no ${table}_meta — the index predates the " +
        "adaptive build or is partially written; rebuild with buildLshIndexAdaptive")
    val (nbits, dim, seed) = lshMeta(spark, table)
    lshIndexedTopK(spark, table, queries, k,
      nBits = nbits, probeDist = probeDist, dim = dim, seed = seed,
      maxProbe = maxProbe)
  }

  /** Top-k against a [[buildLshIndex]] table. The probe-bucket set is
    * tiny (≤ |queries| · |masks| ints), so it is collected and pushed
    * as an IN predicate — Spark's bucket pruning then reads ONLY the
    * matching bucket files (`SelectedBucketsCount` in the scan,
    * asserted in `SimilaritySpec`). Same results as [[lshTopK]] with
    * the same (nBits, probeDist, dim, seed) by construction.
    */
  def lshIndexedTopK(spark: org.apache.spark.sql.SparkSession, table: String,
                     queries: DataFrame, k: Int = 10, nBits: Int = 8,
                     probeDist: Int = 2, dim: Int = 64,
                     seed: Long = 42L, maxProbe: Int = 100000): DataFrame =
    lshIndexedPass(spark, table, queries, k, nBits, probeDist, dim, seed,
      maxProbe, predicate = None)

  /** One bucket-pruned probe pass, optionally under a stored-metadata
    * predicate — the shared body of [[lshIndexedTopK]] (predicate =
    * None) and [[lshIndexedTopKFiltered]]'s two radii. The predicate
    * lands on the bucket-pruned table scan, so it reaches parquet as
    * a pushed filter in the SAME scan `SelectedBucketsCount` prunes
    * (the ivfPqIndexedTopKFiltered shape: PushedFilters × bucket
    * pruning, one scan).
    */
  private[graft] def lshIndexedPass(spark: org.apache.spark.sql.SparkSession,
                             table: String, queries: DataFrame, k: Int,
                             nBits: Int, probeDist: Int, dim: Int,
                             seed: Long, maxProbe: Int,
                             predicate: Option[org.apache.spark.sql.Column])
      : DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    // the probe side is consumed twice (bucket set + join) and its
    // signatures cost nBits×dim dot products per query row: collect it
    // ONCE (|queries|·|masks| rows — small by the point-lookup
    // contract) and rebuild a local DataFrame, so nothing is cached
    // and nothing computes twice. The contract is enforced, not
    // assumed: a query side past `maxProbe` exploded rows fails loudly
    // here instead of silently OOMing the driver — batch the queries
    // or use the join-form [[lshTopK]] for scan-sized query sets.
    val probe = lshProbeSide(queries, planes, nBits, probeDist)
    val rows = probe.limit(maxProbe + 1).collect()
    require(rows.length <= maxProbe,
      s"lshIndexedTopK probe side exceeds maxProbe=$maxProbe exploded rows; " +
        "this path is a point-lookup API — batch the queries or use lshTopK")
    val probeBuckets = rows.map(_.getAs[Int]("bucket")).distinct.sorted
    val q = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), probe.schema)
    val c = predicate.fold(spark.table(table))(spark.table(table).filter)
      .filter(col("bucket").isin(probeBuckets.toSeq.map(Int.box): _*))
    scoreAndRank(c, q, k)
  }

  /** FILTERED top-k against a [[buildLshIndex]] table built with
    * `metaCols` — the third of the three persisted families' filtered
    * probes ([[binaryIndexedTopK]]'s `predicate` and
    * [[ivfPqIndexedTopKFiltered]] are the other two; without this an
    * LSH-index user under a predicate must post-filter and silently
    * under-return, exactly the failure mode the other families' specs
    * pin). The predicate restricts the stored postings BEFORE
    * candidate selection, inside the SAME bucket-pruned scan
    * (SelectedBucketsCount × PushedFilters, spec-asserted), so
    * selection ranks only qualifying rows.
    *
    * The filter×probe interaction, LSH edition: a selective predicate
    * can empty a query's probed Hamming ball, and unlike IVF there is
    * no centroid-cosine signal — the starvation signature is simply a
    * first pass returning fewer than `k` rows. Three deterministic
    * tiers:
    *  - probe at `probeDist0`; queries with ≥ k rows are done;
    *  - STARVED queries re-probe at `probeDistMax` (mask count grows
    *    by [[probeMaskCount]] — callers size their query bound with
    *    the SAME formula at probeDistMax, so probe and bound cannot
    *    drift, the r10 lesson);
    *  - queries still below k after the widest radius fall through to
    *    exact brute force over the QUALIFYING rows only — unlike
    *    nprobeMax = nlist, a Hamming ball never covers the whole
    *    bucket space, so radius escalation alone cannot promise k
    *    results; the fall-through can, and it is per-starved-query
    *    work against a pushed-filter scan, not a corpus pass.
    * Additionally `bruteBelow` > 0 short-circuits the whole probe to
    * exact filtered brute force when the qualifying corpus is small
    * (one footer-bounded pushed-filter count), the
    * ivfPqIndexedTopKFiltered fall-through.
    *
    * Every tier is deterministic given the stored params, so the
    * catalog gate replicates the WHOLE escalation in DuckDB SQL and
    * hash-matches — the LSH family's exact-replication convention,
    * stronger than a recall floor.
    */
  def lshIndexedTopKFiltered(spark: org.apache.spark.sql.SparkSession,
                             table: String, queries: DataFrame,
                             predicate: org.apache.spark.sql.Column,
                             k: Int = 10, probeDist0: Int = 2,
                             probeDistMax: Int = 3,
                             maxProbe: Int = 100000,
                             bruteBelow: Long = 0L): DataFrame = {
    require(spark.catalog.tableExists(s"${table}_meta"),
      s"lshIndexedTopKFiltered: no ${table}_meta — the index is missing " +
        "or partially written; rebuild with buildLshIndexAdaptive")
    val (nBits, dim, seed) = lshMeta(spark, table)
    def qualifying = spark.table(table).filter(predicate)
      .select(col("c_id").as("vec_id"), col("c_emb").as("embedding"))
    if (bruteBelow > 0 && spark.table(table).filter(predicate)
        .count() <= bruteBelow)
      return bruteForceTopK(queries, qualifying, k)
    def pass(qs: DataFrame, pd: Int) = lshIndexedPass(spark, table, qs, k,
      nBits, pd, dim, seed, maxProbe, Some(predicate))
    val pd0 = math.min(probeDist0, nBits)
    val pdMax = math.max(math.min(probeDistMax, nBits), pd0)
    // materialized once: the first pass feeds the per-query counts,
    // the starved anti-join, and the final union
    val first = pass(queries, pd0).localCheckpoint()
    val sated = first.groupBy(col("q_id"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= k).select(col("q_id"))
    val starved = queries.join(sated,
      queries("vec_id") === sated("q_id"), "left_anti")
    if (starved.isEmpty) return first
    val firstKept = first.join(sated, Seq("q_id"), "left_semi")
    val second =
      (if (pdMax > pd0) pass(starved, pdMax) else first
        .join(sated, Seq("q_id"), "left_anti")).localCheckpoint()
    val sated2 = second.groupBy(col("q_id"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= k).select(col("q_id"))
    val starved2 = starved.join(sated2,
      starved("vec_id") === sated2("q_id"), "left_anti")
    val secondKept = second.join(sated2, Seq("q_id"), "left_semi")
    if (starved2.isEmpty) return firstKept.unionByName(secondKept)
    firstKept.unionByName(secondKept)
      .unionByName(bruteForceTopK(starved2, qualifying, k))
  }
}
