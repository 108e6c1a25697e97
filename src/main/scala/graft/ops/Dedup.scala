package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines (north-star surface,
  * SURVEY.md §2.11): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Scale posture: every near-dup variant avoids the O(n²) all-pairs
  * join — candidates come from an equi-join on a blocking key
  * (LSH band bucket / SimHash chunk / (lang, length-bucket) block),
  * which Spark executes as a hash-partitioned shuffle join whose cost
  * is Σ bucket², not n². Hot buckets are split by AQE skew-join.
  */
object Dedup {

  /** Exact dedup: one surviving row per distinct key tuple.
    * `dropDuplicates` = hash-aggregate keyed on the dedup columns
    * (surviving row picked arbitrarily); map-side partial aggregation
    * collapses duplicates before the shuffle.
    */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Deterministic exact dedup: the survivor is the row minimizing
    * `tiebreaker` within each key group — reproducible across runs
    * and engines (unlike dropDuplicates' arbitrary pick). Ties on the
    * tiebreaker fall through to a full-row hash, so the pick stays
    * deterministic even for non-unique tiebreakers (rows identical in
    * every column are interchangeable anyway).
    */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], tiebreaker: String): DataFrame =
    df.withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(tiebreaker),
            org.apache.spark.sql.functions.xxhash64(df.columns.toSeq.map(col): _*))))
      .filter(col("_rn") === 1).drop("_rn")

  /** Incremental exact dedup: admit the rows of an incoming `batch`
    * that are (a) the first occurrence of their key within the batch
    * and (b) not already present in the standing `corpus` — WITHOUT
    * re-deduplicating the corpus.
    *
    * This is the production shape at 100 TB: the corpus is not
    * rescanned per ingest; a fingerprint index over it is maintained
    * once (in deployment: persisted bucketed by fingerprint via
    * `Routing.writeBucketed`, so the confirm join below is
    * co-partitioned and shuffle-free on the corpus side; here it is
    * derived inline from the corpus frame). The batch probes the
    * corpus in two tiers:
    *
    *  1. a broadcast Bloom filter over the corpus fingerprints
    *     (~1.2 bytes/key at 1% FP — broadcastable long after the
    *     exact fingerprint set is not). No false negatives, so a
    *     bloom-negative batch row is DEFINITELY new and skips the
    *     join entirely;
    *  2. bloom-positive rows (true dups + ~1% FP) anti-join the
    *     corpus on (fingerprint, key) — exact, collision-proof, and
    *     sized by the candidate set, not the batch.
    *
    * Output = definitely-new ∪ confirmed-new, bit-identical to the
    * naive batch-anti-join-corpus plan.
    */
  def incrementalExact(corpus: DataFrame, batch: DataFrame, key: String,
                       tiebreaker: String, fpp: Double = 0.01): DataFrame = {
    val fp = xxhash64(col(key))
    // non-distinct build: the bloom dedups bit-wise, and corpus row
    // count (cheap: parquet count-star) upper-bounds the sizing
    val filter = corpus.sparkSession.sparkContext.broadcast(
      graft.functions.Bloom.build(corpus.select(fp.as("_fp")), "_fp", corpus.count(), fpp))
    val firsts = exactKeepFirst(batch, Seq(key), tiebreaker)
      .withColumn("_fp", fp)
    val inBloom = graft.functions.Bloom.mightContain(filter, col("_fp"))
    val definitelyNew = firsts.filter(!inBloom)
    val confirmedNew = firsts.filter(inBloom)
      .join(corpus.select(fp.as("_fp"), col(key)).distinct(),
        Seq("_fp", key), "left_anti")
    definitelyNew.unionByName(confirmedNew).drop("_fp")
  }

  // ---------------------------------------------------------------- //
  // MinHash + LSH                                                    //
  // ---------------------------------------------------------------- //

  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
  import graft.functions.{MinHashBandsExpr, MinHashSigExpr, ShingleCodesExpr, SimHashExpr}

  /** MinHash signatures: one row per doc with a `sig` array column —
    * ONE codegen pass over the text per row (functions.MinHashSigExpr),
    * no explode, no shuffle.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 64, shingleSize: Int = 3,
                        seed: Long = 42L): DataFrame =
    docs.select(col("doc_id"),
      toCol(MinHashSigExpr(toExpr(col("text")), k, shingleSize, seed)).as("sig"))

  /** Near-duplicate pairs via banded LSH over MinHash signatures,
    * verified with true shingle-code-set Jaccard.
    *
    * bands × rowsPerBand = k. A pair collides in ≥1 band with
    * probability 1-(1-j^r)^b (the S-curve) — candidates ≪ n², then the
    * exact Jaccard join filters false positives. Every per-doc value
    * (signature, band keys, code set) is computed scan-side per row;
    * the only shuffles are the narrow band self-join and the verify
    * join on candidate ids.
    */
  def minhashNearDups(docs: DataFrame, k: Int = 64, bands: Int = 16,
                      shingleSize: Int = 3, threshold: Double = 0.5,
                      seed: Long = 42L): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // band keys computed scan-side in one codegen pass per row
    val bandRows = docs.select(
      col("doc_id"),
      posexplode(toCol(MinHashBandsExpr(
        toExpr(col("text")), k, bands, shingleSize, seed)))
        .as(Seq("band", "key")))
    val cand = bandRows.alias("l")
      .join(bandRows.alias("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .distinct()
    // verify candidates with exact Jaccard over distinct code sets
    val sets = docs.select(col("doc_id"),
      toCol(ShingleCodesExpr(toExpr(col("text")), shingleSize, distinct = true)).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("jaccard",
        toCol(graft.functions.JaccardSortedExpr(
          toExpr(col("sha")), toExpr(col("shb")))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------- //
  // SimHash                                                          //
  // ---------------------------------------------------------------- //

  /** 64-bit SimHash per document: sign-sum of token-hash bits, one
    * codegen loop per row (functions.SimHashExpr) — no explode, no
    * 64-column aggregate.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toCol(SimHashExpr(toExpr(col("text")))).as("simhash"))

  /** SimHash near-dup pairs found via the 4×16-bit chunk trick:
    * candidates come from 4 equi-joins on chunk value — no all-pairs
    * scan. RECALL CONTRACT: the pigeonhole guarantees every pair
    * within Hamming distance 3 shares a chunk, so recall is total for
    * `maxDist ≤ 3`; beyond that the result is the CHUNK-BLOCKED
    * subset (a pair differing in all four chunks is never considered
    * — by design, that is what keeps the join bounded). Callers
    * wanting full recall at larger distances split the signature into
    * maxDist+1 chunks instead.
    */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val sig = simhash(docs)
    val chunks = sig.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "val")))
    chunks.alias("l")
      .join(chunks.alias("r"),
        col("l.chunk") === col("r.chunk") && col("l.val") === col("r.val") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---------------------------------------------------------------- //
  // N-gram Jaccard (oracle-expressible near-dup)                     //
  // ---------------------------------------------------------------- //

  /** Token-set Jaccard over pairs blocked on (lang, length bucket):
    * near-dups necessarily agree on language and approximate length,
    * so the equi-join block bounds the pair count. Fully expressible
    * in ANSI SQL → DuckDB-oracle checkable.
    */
  def ngramJaccardPairs(docs: DataFrame, lenBucket: Int = 20,
                        threshold: Double = 0.5): DataFrame = {
    // token sets carried as SORTED distinct FNV hashes: the pair loop
    // is a codegen merge walk (JaccardSortedExpr) instead of per-pair
    // hash-set building. Equal to string-set Jaccard absent 64-bit
    // collisions between a pair's tokens (P ≈ |toks|²/2⁶⁵ per pair).
    val base = docs.select(
      col("doc_id"), col("lang"),
      (col("n_chars") / lenBucket).cast("long").as("len_bkt"),
      toCol(ShingleCodesExpr(toExpr(col("text")), 1, distinct = true)).as("toks"))
    // probe the neighbor buckets too: similar docs can straddle a
    // bucket boundary (19 vs 21 chars), and Jaccard ≥ 0.5 tolerates up
    // to 2× length difference. One probe value matches per pair, so no
    // duplicate candidates.
    val probe = base.withColumn("_pbkt", explode(array(
      col("len_bkt") - 1, col("len_bkt"), col("len_bkt") + 1)))
    probe.alias("l")
      .join(base.alias("r"),
        col("l.lang") === col("r.lang") && col("l._pbkt") === col("r.len_bkt") &&
          col("l.doc_id") < col("r.doc_id"))
      .withColumn("jaccard",
        toCol(graft.functions.JaccardSortedExpr(
          toExpr(col("l.toks")), toExpr(col("r.toks")))))
      .filter(col("jaccard") >= threshold)
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------- //
  // Exact substring duplication (character-window fingerprints)      //
  // ---------------------------------------------------------------- //

  /** Per-document exact-substring duplication stats: the share of each
    * document whose character windows also occur verbatim in ANOTHER
    * document. Near-dup operators above score whole documents; this
    * catches partial duplication — boilerplate headers, license
    * blocks, quoted passages — that whole-doc Jaccard dilutes away,
    * the signal substring-level training-data dedup deletes on.
    *
    * Mechanics: every `win`-char window at stride-aligned offsets is
    * fingerprinted scan-side in one codegen pass per row
    * (functions.WindowHashesExpr — FNV-1a 64, engine-neutral), then
    *   (doc, hash) distinct-count  → per-window cross-doc support
    *   support > 1                 → window is duplicated elsewhere
    *   per-doc rollup              → n_windows / dup_windows / dup_frac
    * Documents shorter than `win` surface with zero windows (left
    * join), so the output covers the whole corpus.
    *
    * Scale: no pair join at all — cost is linear in corpus size. The
    * exploded window table is rows × (len/stride) entries of 16 bytes;
    * all three aggregations are partial-agg (map-side combine)
    * shuffles on (doc_id, h), h, doc_id. A boilerplate window shared
    * by millions of docs is ONE hot reduce key ((h) count), not a
    * quadratic pair blow-up — the shape survives 100 TB where any
    * pair-emitting variant would not.
    */
  def substringDupStats(docs: DataFrame, win: Int = 40, stride: Int = 8): DataFrame = {
    val wins = docs.select(col("doc_id"),
      explode(toCol(graft.functions.WindowHashesExpr(
        toExpr(col("text")), win, stride))).as("h"))
    // windows deduped within doc first: support = #distinct docs
    val wd = wins.groupBy("doc_id", "h").agg(count(lit(1)).as("reps"))
    val sup = wd.groupBy("h").agg(count(lit(1)).as("docs"))
    val st = wd.join(sup, "h").groupBy("doc_id").agg(
      sum("reps").as("n_windows"),
      sum(when(col("docs") > 1, col("reps")).otherwise(0L)).as("dup_windows"))
    docs.select(col("doc_id")).join(st, Seq("doc_id"), "left").select(
      col("doc_id"),
      coalesce(col("n_windows"), lit(0L)).as("n_windows"),
      coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
      round(when(coalesce(col("n_windows"), lit(0L)) === 0L, lit(0.0))
        .otherwise(col("dup_windows").cast("double") / col("n_windows")), 6)
        .as("dup_frac"))
  }

  /** Merged duplicated character spans per document — the deletion
    * unit of substring-level dedup: each output row is a maximal
    * `[span_start, span_end)` run of `docs.text` every byte of which
    * lies under some stride-aligned `win`-char window that also occurs
    * verbatim in another document.
    *
    * Overlapping/adjacent duplicated windows are merged with the
    * classic gaps-and-islands window pass: a window starts a new span
    * iff its offset exceeds the running max end of all earlier
    * windows (no shuffle beyond the per-doc sort the window function
    * needs — at scale the sort is per-partition after hash
    * partitioning on doc_id, never global).
    */
  def substringDupSpans(docs: DataFrame, win: Int = 40, stride: Int = 8): DataFrame = {
    val wins = windowOccurrences(docs, win, stride)
    val sup = wins.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("docs"))
    val dup = wins.join(sup.filter(col("docs") > 1), "h")
      .select(col("doc_id"), col("pos"), (col("pos") + win).as("end"))
    mergeSpans(dup)
  }

  /** (doc_id, pos, h) for every stride-aligned window. */
  private def windowOccurrences(docs: DataFrame, win: Int, stride: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(toCol(graft.functions.WindowHashesExpr(
        toExpr(col("text")), win, stride))).as(Seq("idx", "h")))
      .select(col("doc_id"), (col("idx") * stride).cast("long").as("pos"), col("h"))

  /** Gaps-and-islands merge of (doc_id, pos, end) intervals into
    * maximal disjoint (doc_id, span_start, span_end) rows. Per-doc
    * window pass: no shuffle beyond hash partitioning on doc_id. */
  private def mergeSpans(dup: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("_maxEnd", max(col("end")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_newSpan",
        when(col("_maxEnd").isNull || col("pos") > col("_maxEnd"), 1L).otherwise(0L))
      .withColumn("_span", sum(col("_newSpan")).over(byDoc))
      .groupBy(col("doc_id"), col("_span"))
      .agg(min("pos").as("span_start"), max("end").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** APPLY substring-level dedup: excise every duplicated span whose
    * windows are NOT the corpus-first occurrence, and emit the cleaned
    * text — the final step of the Lee-et-al.-style pipeline
    * ([[substringDupStats]] measures, [[substringDupSpans]] locates,
    * this deletes). "First occurrence wins": for each duplicated
    * window hash the canonical occurrence is the minimum (doc_id,
    * pos) — computed with a partial-aggregatable `min(struct(...))`,
    * NOT a per-hash window sort, so a boilerplate window shared by
    * millions of docs is one hot reduce key, never a single-task
    * sort. Non-canonical windows merge into spans (gaps-and-islands);
    * the kept complement segments rebuild the text with one ordered
    * concat per doc.
    *
    * Output: (doc_id, clean_text, n_removed) for EVERY corpus doc —
    * untouched docs pass through with n_removed = 0. Offsets are
    * byte-based (= chars on the ASCII fixture contract shared with
    * the oracle).
    */
  def substringDedupApply(docs: DataFrame, win: Int = 40, stride: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = windowOccurrences(docs, win, stride)
    val sup = wins.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("docs"))
    val canon = wins.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
    val dup = wins
      .join(sup.filter(col("docs") > 1), "h")
      .join(canon, "h")
      .filter(!(col("doc_id") === col("c.doc_id") && col("pos") === col("c.pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + win).as("end"))
    val spans = mergeSpans(dup)
    // complement of the spans: the segment before each span, plus the
    // tail after the last span — zero-length segments kept so fully
    // deleted docs still produce a (empty) rebuilt row
    val byDoc = Window.partitionBy("doc_id").orderBy("span_start")
    val before = spans
      .withColumn("keep_start",
        coalesce(lag(col("span_end"), 1).over(byDoc), lit(0L)))
      .select(col("doc_id"), col("keep_start"),
        (col("span_start") - col("keep_start")).as("keep_len"))
    val tail = spans.groupBy("doc_id")
      .agg(max(col("span_end")).as("keep_start"))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("_n")), "doc_id")
      .select(col("doc_id"), col("keep_start"),
        (col("_n") - col("keep_start")).as("keep_len"))
    val rebuilt = before.union(tail)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("keep_start"),
        col("text").substr((col("keep_start") + 1).cast("int"),
          col("keep_len").cast("int")).as("piece"))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("keep_start"), col("piece")))),
        s => s.getField("piece")), "").as("clean_text"))
    docs.select(col("doc_id"), col("text")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), col("text")).as("clean_text"),
        (length(col("text")) - length(coalesce(col("clean_text"), col("text"))))
          .cast("long").as("n_removed"))
  }

  // ---------------------------------------------------------------- //
  // Pair → group resolution (connected components)                   //
  // ---------------------------------------------------------------- //

  /** Resolve near-dup PAIRS into GROUPS: connected components over
    * the undirected pair graph, labeling every member with the
    * component's minimum id — the canonical survivor a dedup pass
    * keeps. A pipeline that stops at pairs under-deletes: {A~B, B~C}
    * without closure keeps B twice.
    *
    * Algorithm: iterative min-label propagation — each round every
    * node adopts min(own label, neighbours' labels); converged when a
    * round changes nothing. Rounds = component diameter; near-dup
    * components are shallow (dup clusters, not long chains), so this
    * settles in 2–4 rounds. Each round is one shuffle join on the
    * cached edge list. At adversarial scale (long chains) use
    * [[connectedComponentsStar]] — large-star/small-star contraction,
    * O(log n) rounds, same fixpoint and output contract.
    *
    * Output: (doc_id, group_id) for every node present in `pairs`,
    * group_id = min doc id reachable. Deterministic regardless of
    * iteration or partition order.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          driverMaxEdges: Int = 4000000): DataFrame = {
    // The pair list is the OUTPUT of near-dup blocking — orders of
    // magnitude smaller than the corpus (like a broadcast join's
    // build side). Under `driverMaxEdges` the exact union–find runs
    // on the driver in milliseconds instead of N shuffle rounds; the
    // same size-guard logic that justifies broadcast() justifies
    // this. Past the threshold the distributed min-label loop below
    // takes over unchanged.
    val pairRows = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .localCheckpoint()
    val sample = pairRows.take(driverMaxEdges + 1)
    if (sample.length <= driverMaxEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      sample.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // union-by-min keeps every root the component min
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
        parent.putIfAbsent(row.getLong(0), find(row.getLong(0)))
        parent.putIfAbsent(row.getLong(1), find(row.getLong(1)))
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(k => out += ((k, find(k))))
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("doc_id", "group_id")
    }
    // localCheckpoint (not cache): iterative plans grow one join+agg
    // PER ROUND, and re-analyzing the accumulated lineage each round
    // costs far more than the data pass itself (measured 86 s → 3 s
    // at sf0.1). Checkpointing truncates the plan to the materialized
    // blocks, so every round optimizes a constant-size tree.
    //
    // No distinct() on the edge list: the min-aggregation is
    // idempotent under duplicate edges, and dropping the dedup saves
    // a full shuffle over the largest intermediate.
    val edges = pairRows.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairRows.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint()
    // round 1 fused into initialization: every node starts at
    // min(self, direct neighbours) — one aggregation also yields the
    // node set (every node in `pairs` has >= 1 edge row).
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr_min")).as("group_id"))
      .localCheckpoint()
    // convergence via label-sum stability: labels only ever decrease,
    // so an unchanged sum == no label moved — ONE scalar aggregate per
    // round instead of a join-back against the previous labels.
    // (Exact in Long for sum(ids) < 2^63; a deployment with larger id
    // mass swaps in sum(cast as decimal) at the same call site.)
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("group_id"))).head().getLong(0)
    var prevSum = labelSum(labels)
    var iter = 1
    var changed = true
    while (changed && iter < maxIter) {
      val next = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id").as("lbl")), "dst")
        .select(col("src").as("doc_id"), col("lbl").as("group_id"))
        .union(labels)
        .groupBy("doc_id")
        .agg(min(col("group_id")).as("group_id"))
        .localCheckpoint()
      val s = labelSum(next)
      changed = s != prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond" — public algorithm, re-derived on the DataFrame
    * API). Same contract and output as [[connectedComponents]]; the
    * difference is convergence in O(log n) rounds on ANY graph shape,
    * where min-label propagation needs diameter rounds — a 500-node
    * chain takes 500 joins there and ~9 here. This is the documented
    * swap-in for adversarial long-chain graphs; near-dup clusters are
    * shallow, so the default path keeps the simpler loop.
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: with edges oriented (larger → smaller), every
    *    node connects its smaller neighbors and itself to that
    *    minimum.
    *
    * Both steps preserve connectivity; the fixpoint is one star per
    * component centered on the component minimum. Convergence is
    * detected by (count, value-sum) stability of the edge multiset —
    * the total only decreases while off-fixpoint — with `maxIter` as
    * the hard stop; the result is property-tested against the naive
    * closure either way.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // node set comes from the UNFILTERED pair list: a node whose only
    // edge is a self-loop (a_id == b_id) is still a (singleton)
    // component and must appear in the output labeled by itself —
    // deriving nodes after the self-loop filter dropped them (r3
    // ADVICE bug, regression-tested in DedupSpec).
    val all = pairs.select(col("a_id").cast("long").as("u"),
        col("b_id").cast("long").as("v"))
    val raw = all.filter(col("u") =!= col("v")).localCheckpoint()
    val nodes = all.select(col("u").as("doc_id"))
      .union(all.select(col("v").as("doc_id"))).distinct().localCheckpoint()
    var edges = raw
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("u") + col("v"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = (-1L, -1L)
    var cur = stats(edges)
    var iter = 0
    while (cur != prev && iter < maxIter) {
      // large-star over the bidirected view: m = min(closed nbhd)
      val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmin = bidir.groupBy("u").agg(min(col("v")).as("nm"))
        .select(col("u"), least(col("u"), col("nm")).as("m"))
      // (v, m) for every neighbor v > u: larger side first by
      // construction (v > u >= m), no self-loops possible
      val large = bidir.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the (larger → smaller) edges
      val smin = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = smin.select(col("u"), col("m").as("v"))
        .union(large.join(smin, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint()
      edges = small
      prev = cur
      cur = stats(edges)
      iter += 1
    }
    // fixpoint: stars (node → component min); roots label themselves
    val lbl = edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("group_id"))
    nodes.join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
  }

  // ---------------------------------------------------------------- //
  // Embedding cosine near-dup                                        //
  // ---------------------------------------------------------------- //

  /** Embedding near-dup pairs: cosine ≥ threshold within a blocking
    * key (here the fixture's `label`; in production an LSH bucket or
    * coarse-quantizer cell). Norms are precomputed once per row so the
    * pair loop is a single fused dot product.
    */
  /** Label-blocked exact pair scan. The build side (a label-blocked
    * corpus comfortably under the broadcast threshold) broadcasts, so
    * join parallelism is the STREAM side's partitioning — and a small
    * parquet corpus scans as one partition, serializing the whole
    * quadratic enumeration onto one core. The probe side is therefore
    * round-robin repartitioned first: the enumeration spreads evenly
    * over every core at the cost of shuffling only the (linear) probe
    * rows. Measured at sf1: 12.6 s unrepartitioned → 1.4 s here. (A
    * triangle/grid self-join decomposition was measured and rejected:
    * under a broadcast join it replicates probe bytes ×buckets
    * without adding any parallelism — spread still comes only from
    * stream-side partitioning — and lands at 17.6 s. Grid
    * decomposition is for the shuffle-join regime, where label
    * blocks outgrow the broadcast threshold.)
    */
  /** Banded sign-LSH near-dup pairs — the SCALE path ([[embeddingNearDups]]
    * is quadratic within its blocking key, VERDICT r5 #2: 15.9× time at
    * 5× data). Candidate blocks here are LSH buckets bounded BY DESIGN:
    * a 64-dim sign sketch (`bands` × `bitsPerBand` fixed random
    * hyperplanes, deterministic given `seed`) is split into bands, and
    * two vectors are candidates iff they collide in AT LEAST ONE band
    * — the classic MinHash-LSH banding scheme transplanted to
    * random-hyperplane signatures. Per-band bucket count is
    * 2^bitsPerBand, so sizing `bitsPerBand ≈ log2(n / targetBucketRows)`
    * keeps buckets ~constant as the corpus grows and total candidate
    * work LINEAR in n; the defaults (8 bands × 4 bits) suit 10³–10⁴
    * rows. Recall for a pair at angle θ is 1-(1-(1-θ/π)^bits)^bands —
    * ≥ 99 % for cosine ≥ 0.9 at the defaults — and the rule is exactly
    * replicable in SQL (the oracle recomputes signatures from the same
    * hyperplane literals), so the catalog gate is a hash match, not a
    * recall bound.
    *
    * Shape at 100 TB: one linear projection pass computes the
    * signature (bands·bits·dim fused multiply-adds inside codegen),
    * the explode emits `bands` small rows per vector (ids + sig, NOT
    * the embedding — the vectors rejoin by id after the candidate set
    * is deduped), and candidates come from a shuffle equi-join on the
    * band key. No broadcast assumption, no per-label quadratic blocks.
    */
  /** Adaptive parameter choice: per-band bucket count 2^bits sized so
    * buckets hold ~`targetBucket` rows — the knob that keeps candidate
    * work LINEAR as the corpus grows (bits ∝ log2 n ⇒ bucket size
    * bounded ⇒ candidates ≈ bands·n·targetBucket/2). Bands shrink as
    * bits grow to keep the signature inside a BIGINT; recall for a
    * fixed cosine decays slowly with scale (p_band = p_bit^bits) — at
    * 100 TB raise recall with several independent signatures (seeds)
    * unioned, same shape. Deterministic from (n, targetBucket) so the
    * SQL oracle can reproduce the exact choice.
    */
  private[graft] def annParams(n: Long, targetBucket: Int = 180): (Int, Int) = {
    val bits = math.min(12, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    (math.min(8, 62 / bits), bits)
  }

  /** Recall amplification for [[embeddingNearDupsAnn]] at scale:
    * union the pair sets of `nSeeds` INDEPENDENT signatures (distinct
    * hyperplane draws), dedup once. Per-pair miss probability
    * multiplies across seeds — at the sf25-adaptive (5 bands × 12
    * bits), a cosine-0.9 pair is found with p≈0.58 per seed but
    * p≈0.93 with three — while cost stays linear (candidates don't
    * interact until the final distinct). This is the documented
    * 100 TB answer to banding recall decaying as bits grow with
    * log2(n). All seeds run FUSED in one corpus pass
    * ([[embeddingNearDupsAnnSeeds]]): the scan, norm, and L signature
    * projections share a single stage, and one self-join replaces L.
    */
  def embeddingNearDupsAnnMulti(embeddings: DataFrame, threshold: Double = 0.5,
                                bands: Int = 8, bitsPerBand: Int = 4,
                                nSeeds: Int = 3, seed0: Long = 42L): DataFrame = {
    require(nSeeds >= 1, "nSeeds must be >= 1")
    embeddingNearDupsAnnSeeds(embeddings, threshold, bands, bitsPerBand,
      (0 until nSeeds).map(i => seed0 + 1000L * i))
  }

  /** [[embeddingNearDupsAnn]] with bands/bits sized from the corpus
    * row count (one metadata-cheap count pass — or `n` when the caller
    * already knows it, e.g. from [[graft.Tables.cachedCount]]; pass
    * n < 0 to count here). At the correctness-gate scales (≤ 2000
    * rows) this resolves to the static (8 bands × 4 bits) the catalog
    * oracle pins. */
  def embeddingNearDupsAnnAdaptive(embeddings: DataFrame, threshold: Double = 0.5,
                                   targetBucket: Int = 180,
                                   seed: Long = 42L, n: Long = -1L): DataFrame = {
    val nn = if (n < 0) embeddings.count() else n
    val (bands, bits) = annParams(nn, targetBucket)
    embeddingNearDupsAnn(embeddings, threshold, bands, bits, seed, n = nn)
  }

  def embeddingNearDupsAnn(embeddings: DataFrame, threshold: Double = 0.5,
                           bands: Int = 8, bitsPerBand: Int = 4,
                           seed: Long = 42L, dedup: Boolean = true,
                           n: Long = -1L): DataFrame =
    embeddingNearDupsAnnSeeds(embeddings, threshold, bands, bitsPerBand,
      Seq(seed), dedup, n)

  /** Shuffle width for a blocked pair pass, sized to the ESTIMATED
    * in-join candidate fan-out instead of pinned at the session width
    * (r15, VERDICT r14 #3; guide §2.2 — the width should track the
    * data). The pinned width was right where it was measured (sf25:
    * the fan-out saturates any width) but inverted at tiny corpora:
    * a 2,000-row pass ran 32 reduce tasks per stage whose scheduling
    * overhead exceeded the compute 4× (8-core runs BEAT 32-core,
    * r14 scaling block). One task per ~4M candidate pairs (≲ 0.2 s of
    * one core's 64-dim dot products) keeps tiny passes at the width
    * their work warrants while any real fan-out saturates to the full
    * session width LONG before the data is interesting (4M·32 pairs ≈
    * a 30k-row corpus at gate blocking params) — so at sf25/100 TB
    * the width is EXACTLY the session width, the measured-good
    * posture, by construction. Estimate-only: the width never changes
    * rows, only task granularity; callers without a known n keep the
    * session width (estimating would cost the count job this path's
    * callers already paid once).
    */
  private[graft] def pairWidth(estPairs: Double, nParts: Int): Int =
    if (!java.lang.Double.isFinite(estPairs) || estPairs <= 0) nParts
    else math.max(1L, math.min(nParts.toLong,
      math.ceil(estPairs / 128e3).toLong)).toInt

  /** The banded sign-LSH pair pass generalized to SEVERAL independent
    * hyperplane draws FUSED into one corpus pass. Result is exactly
    * the union of the per-seed [[embeddingNearDupsAnn]] pair sets
    * (each seed's band keys occupy a disjoint key range — the
    * seed×band ordinal sits in the key's high bits — so candidates
    * are precisely the pairs colliding in ≥1 band of ≥1 seed, and
    * every candidate is verified with the same exact cosine), but the
    * plan reads the corpus ONCE: all L signatures are projected in a
    * single scan stage, the explode emits L·bands key rows per
    * vector, and ONE self-join + one distinct replace L joins and L
    * scans. At sf25 the L=13 recall-contract pass is where this
    * matters: the per-seed form re-scanned and re-normed 150M rows
    * thirteen times and ran thirteen join stages; here seed count
    * adds only shuffle rows, the scan-side work is paid once.
    */
  def embeddingNearDupsAnnSeeds(embeddings: DataFrame, threshold: Double = 0.5,
                                bands: Int = 8, bitsPerBand: Int = 4,
                                seeds: Seq[Long] = Seq(42L),
                                dedup: Boolean = true,
                                n: Long = -1L): DataFrame = {
    import graft.functions.VectorFunctions._
    require(bands * bitsPerBand <= 62, s"signature must fit a BIGINT: $bands×$bitsPerBand")
    require(seeds.nonEmpty, "at least one seed")
    require(seeds.distinct.size == seeds.size, s"duplicate seeds: $seeds")
    val dim = 64
    // fused sign-signature expression per seed (one primitive loop
    // nest each), NOT a sum of per-plane when(dotD(...)>=0) columns:
    // the composed form walks a boxed constant array per plane and
    // measured ~100× slower — the signature pass, not the candidate
    // join, dominated the near-dup wall clock. Math is identical
    // (left-to-right double dots), so the DuckDB oracle is unchanged.
    val sigCols = seeds.zipWithIndex.map { case (sd, i) =>
      graft.functions.VectorFunctions.signBands(col("embedding"),
        Similarity.hyperplanes(bands * bitsPerBand, dim, sd)).as(s"_sig$i")
    }
    val mask = (1L << bitsPerBand) - 1
    // zero-norm vectors are excluded: cosine is 0/0 = NaN, and BOTH
    // engines treat NaN as greater than any real in comparisons, so a
    // garbage vector would pair with everything it collides with.
    // Par.spread first: the signature pass runs at scan width, and a
    // bench-sized parquet corpus scans as 1-2 splits — at real scale
    // the scan is already wide and spread is a no-op.
    val base = Par.spread(embeddings)
      .select(col("vec_id") +: col("embedding") +:
        normD(col("embedding")).as("nrm") +: sigCols: _*)
      .filter(col("nrm") > 0)
    // seed×band ordinal folded into the join key (high bits) so the
    // candidate join is a single-column equi-join and different seeds'
    // buckets never collide. Both sides CARRY their embedding through
    // the join and every candidate is scored as it streams out of the
    // join in codegen — total shuffle is O(seeds·bands·n) corpus-sized
    // rows, independent of the candidate count. (The
    // dedup-candidates-then-join-the-vectors-back shape was measured
    // 6.9× slower at sf5: it shuffles the CANDIDATE stream twice —
    // once for the pair distinct, twice to rejoin the vectors by id —
    // and the rejoin falls off broadcast onto sort-merge exactly when
    // the corpus outgrows the broadcast threshold, i.e. exactly when
    // performance matters.)
    val keyCols = for {
      i <- seeds.indices; b <- 0 until bands
    } yield shiftright(col(s"_sig$i"), b * bitsPerBand).bitwiseAND(lit(mask)) +
      lit((i.toLong * bands + b) << bitsPerBand)
    val banded = base.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array(keyCols: _*)).as("bkey"))
    // EXPLICIT numbered repartition on the join key, not Par.spread:
    // AQE's coalescing sees only the (small, corpus-sized) exchange
    // bytes and is blind to the ~bucket² pair fan-out INSIDE the join
    // — it squeezed the whole enumeration onto 1-3 cores (the same
    // failure mode as the fuzzy-join expansion, SCALE.md r3 #3). A
    // numbered repartition is preserved by AQE, and hash-partitioning
    // both sides on the join key means the join reuses these
    // exchanges directly. The per-side renames sit ABOVE the shared
    // repartition (the semanticNearDupPairs pattern), so BOTH join
    // sides read ONE exchange (ReusedExchange in the physical plan):
    // the signature pass and the seeds·bands·n-row shuffle write
    // happen once, not once per side — at sf25/L=13 that halves the
    // dominant shuffle.
    val nParts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    // width sized to the expected band-bucket fan-out when the caller
    // knows n (see [[pairWidth]]): pairs ≈ L·bands·n²/2^(bits+1)
    val width =
      if (n < 0) nParts
      else pairWidth(seeds.size.toDouble * bands * n.toDouble * n.toDouble /
        math.pow(2.0, bitsPerBand + 1), nParts)
    val parted = banded.repartition(width, col("bkey"))
    def jside(p: String) = parted.select(col("bkey"), col("vec_id").as(s"${p}_id"),
      col("embedding").as(s"${p}_emb"), col("nrm").as(s"${p}_nrm"))
    jside("a").join(jside("b"), Seq("bkey"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotD(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine")) match {
      // a pair collides in >1 band ~20% of the time: dedup AFTER the
      // threshold filter, when the stream has already shrunk by ~30×
      case out => if (dedup) out.distinct() else out
    }
  }

  /** SemDeDup-style semantic dedup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): block by the COARSE-QUANTIZER CELL (the same
    * deterministic sample-KMeans quantizer the IVF index uses —
    * Similarity.ivfCentroids, so clustering cost is shared with the
    * similarity index when both run) and scan exact cosine pairs
    * within each cell. This is the cluster-then-dedup shape the
    * SemDeDup paper runs at web scale: the quadratic is confined to a
    * cell, and sizing `nlist ∝ n / targetCellRows` keeps cells ~constant
    * as the corpus grows, so total candidate work stays linear — the
    * kmeans twin of [[embeddingNearDupsAnn]]'s LSH banding, trading
    * its probabilistic band-collision recall for the quantizer's
    * geometric locality (near-dup pairs sit near each other, hence
    * almost always in the same cell).
    *
    * Emitted pairs carry EXACT cosine (scored in-cell), so precision
    * is exact by construction; only recall depends on the quantizer.
    * The catalog gate (`ext_dedup_semantic`) pins per-label recall
    * against the label-blocked exact pairs; `DedupSpec` pins planted
    * near-dup recovery and determinism across refits.
    */
  /** Adaptive cluster count for [[semanticNearDupPairs]]: cells sized
    * to ~`targetCell` rows (`nlist = n / targetCell`, floor 16), the
    * knob that keeps the in-cell quadratic BOUNDED as the corpus
    * grows — candidate work ≈ nassign²·n·targetCell/2, linear in n.
    * Capped at 4096 (raised from 1024 in r7: the cap binding between
    * sf5 and sf25 let cells grow with the data and the sf25 sweep
    * measured the pair pass superlinear, exp 1.35 — with the fused
    * [[graft.functions.TopCellsExpr]] assignment the wider quantizer
    * is affordable, and the MLlib fit stays a 20·nlist-row sample).
    * Past 4096 the sample fit itself is the cost to watch — raise the
    * cap together with a distributed fit. Deterministic from n so the
    * gate's oracle measurements stay reproducible: resolves to 16 at
    * BOTH driver gate scales (500 / 2000 rows — pinned in DedupSpec).
    */
  private[graft] def semParams(n: Long, targetCell: Int = 250): Int =
    math.min(4096, math.max(16, (n / targetCell).toInt))

  /** [[semanticNearDupPairs]] with nlist sized from the corpus row
    * count (one metadata-cheap count pass, or the caller's `n` when
    * already known — pass n < 0 to count here; see [[semParams]]). */
  def semanticNearDupPairsAdaptive(embeddings: DataFrame, threshold: Double = 0.5,
                                   targetCell: Int = 250, nassign: Int = 3,
                                   seed: Long = 42L, n: Long = -1L,
                                   dedup: Boolean = true): DataFrame = {
    val nn = if (n < 0) embeddings.count() else n
    semanticNearDupPairs(embeddings, threshold,
      semParams(nn, targetCell), nassign, seed, dedup, nn)
  }

  def semanticNearDupPairs(embeddings: DataFrame, threshold: Double = 0.5,
                           nlist: Int = 16, nassign: Int = 3,
                           seed: Long = 42L, dedup: Boolean = true,
                           n: Long = -1L): DataFrame = {
    import graft.functions.VectorFunctions._
    val centroids = Similarity.ivfCentroids(embeddings, nlist, seed)
    // MULTI-ASSIGNMENT (the IVF-nprobe idea on the build side): each
    // vector lands in its `nassign` nearest cells, so a pair whose
    // members sit on opposite sides of a cell boundary is still
    // co-blocked when either's cell is the other's runner-up —
    // single-assignment recall on boundary pairs collapses (measured
    // ≤ 0.5 per label on the fixture at nassign=1). Work scales by
    // nassign (each vector appears in nassign cells), still linear.
    // Par.spread BEFORE the assignment: at production nlist the
    // per-row argmin costs nlist·dim mults, and a bench-sized parquet
    // corpus scans as 1–2 splits — without the spread the whole
    // assignment pass runs at scan width (measured: the sf25 pair
    // pass was assignment-bound at 2 splits for 64 B multiplies).
    // The explicit numbered repartition on the cell key (see
    // embeddingNearDupsAnn) then feeds BOTH self-join sides from ONE
    // exchange: the aliases differ only in renames ABOVE the
    // repartition, so the exchange is planned once and reused —
    // assignment is computed once, not once per side.
    val nParts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    // width sized to the expected in-cell fan-out when the caller
    // knows n (see [[pairWidth]]): pairs ≈ (n·nassign)²/(2·nlist)
    val width =
      if (n < 0) nParts
      else pairWidth(math.pow(n.toDouble * nassign, 2) /
        (2.0 * math.max(1, nlist)), nParts)
    val cells = Similarity.ivfProbeSide(Par.spread(embeddings), centroids, nassign)
      .repartition(width, col("cell"))
    def side(p: String) = cells.select(col("cell"), col("q_id").as(s"${p}_id"),
        col("q_emb").as(s"${p}_emb"), col("q_nrm").as(s"${p}_nrm"))
    side("a").join(side("b"), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotD(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
      // a pair can share up to `nassign` cells: dedup AFTER the
      // threshold filter, when the stream has already shrunk.
      // `dedup = false` hands the RAW stream to a caller that
      // collapses duplicates itself (the count-only twin's HLL —
      // a distinct here would shuffle Θ(pairs) rows it never needs).
      .transform(df => if (dedup) df.distinct() else df)
  }

  /** [[semanticNearDupPairsAdaptive]] unioned with `nSeeds` banded
    * sign-LSH passes ([[embeddingNearDupsAnnAdaptive]] with
    * independent hyperplane draws) — hybrid blocking. The two blockers
    * miss DIFFERENT pairs: kmeans cells chop boundary pairs
    * (multi-assignment recovers most, but recall thins at LOW
    * thresholds where "near"-dup pairs sit far from any centroid —
    * measured 0.51 per-label floor at sf5/θ=0.35, VERDICT r6 weak #3),
    * while sign-LSH banding misses are angular and uncorrelated with
    * cell geometry. Both tiers verify exact cosine with identical
    * arithmetic before emitting, so the union is still all-true-pairs
    * and `distinct()` collapses the overlap; cost is one fused linear
    * LSH pass emitting `nSeeds`×bands key rows per vector (banded
    * candidates bounded by [[annParams]]).
    *
    * `nSeeds` is the RECALL KNOB at scale: as [[annParams]] grows bits
    * with log2(n) to keep buckets bounded, the per-seed band-collision
    * probability for a MID-θ pair collapses (at the sf25-adaptive
    * 5×12 bits, a cosine-0.6 pair — 53°, p_bit = 1−θ/π ≈ 0.705 —
    * collides in ≥1 band with p ≈ 0.07 per seed), so one seed adds
    * almost nothing there. Independent seeds MULTIPLY the miss
    * probability across passes while total work stays linear
    * (seeds × O(bands·n)); the seeds needed for a target lift follow
    * L ≈ ln(1−target)/ln(1−p_seed) — see [[semSeedsFor]] for the
    * sized default. Recall floors per (sf, θ, nSeeds) are recorded in
    * SCALE.md; the catalog gate (`ext_dedup_semantic`) runs this form
    * at the default nSeeds=1 (gate scales measure floor 1.0 at θ=0.6
    * already — the multi-seed spend only buys recall where the
    * adaptive bits have grown, i.e. past sf1).
    */
  def semanticNearDupPairsHybrid(embeddings: DataFrame, threshold: Double = 0.5,
                                 targetCell: Int = 250, nassign: Int = 3,
                                 seed: Long = 42L, nSeeds: Int = 1,
                                 n: Long = -1L): DataFrame = {
    require(nSeeds >= 1, "nSeeds must be >= 1")
    // the corpus cardinality sizes BOTH tiers: count once (or take the
    // caller's), not once per seed pass
    val nn = if (n < 0) embeddings.count() else n
    // ALL seeds run fused in one corpus pass (embeddingNearDupsAnnSeeds
    // — one scan projects every signature, one self-join enumerates
    // every seed's bands) and skip their own pair distinct: the single
    // distinct closing the union collapses in-seed band collisions,
    // cross-seed overlap, and the cell tier's duplicates in ONE
    // shuffle. Before the fusion the recall-contract pass at sf25
    // (L=13) re-scanned and re-normed the corpus once per seed.
    val (bands, bits) = annParams(nn)
    val lsh = embeddingNearDupsAnnSeeds(embeddings, threshold, bands, bits,
      (0 until nSeeds).map(i => seed + 1000L * i), dedup = false, n = nn)
    semanticNearDupPairsAdaptive(embeddings, threshold, targetCell, nassign, seed,
        n = nn)
      .unionByName(lsh)
      .distinct()
  }

  /** COUNT-ONLY twin of [[semanticNearDupPairsHybrid]] (r11 VERDICT
    * #4): identical blocking tiers and cosine arithmetic, but the
    * output collapses to per-`groupCol` pair counts — distinct pairs
    * estimated by HLL sketches over the raw candidate stream
    * (partial-aggregated map-side), raw candidate rows counted
    * exactly. NO pair rows are shuffled or emitted anywhere: both
    * tiers run dedup-less and the one shuffle carries
    * |groups|×|tasks| sketch partials.
    *
    * Why it exists: at a low θ the pair OUTPUT is Θ(n²) by problem
    * semantics (a constant fraction of same-cluster pairs qualifies),
    * so the emission twin's wall measures output volume, not the
    * linear scan/blocking design it is meant to track — at sf100 the
    * emission twin bent to e=1.54 while nobody reads the 600 M pair
    * rows. This twin is the design-cost instrument; keep the emission
    * twin for the honest output price. A production consumer that
    * only sizes the dedup problem (how many near-dup pairs per
    * domain?) runs THIS shape.
    */
  def semanticNearDupPairCountsHybrid(embeddings: DataFrame,
                                      threshold: Double = 0.5,
                                      targetCell: Int = 250, nassign: Int = 3,
                                      seed: Long = 42L, nSeeds: Int = 1,
                                      n: Long = -1L,
                                      groupCol: String = "label"): DataFrame = {
    require(nSeeds >= 1, "nSeeds must be >= 1")
    require(embeddings.columns.contains(groupCol),
      s"semanticNearDupPairCountsHybrid: embeddings has no '$groupCol' column")
    val nn = if (n < 0) embeddings.count() else n
    val (bands, bits) = annParams(nn)
    val lsh = embeddingNearDupsAnnSeeds(embeddings, threshold, bands, bits,
      (0 until nSeeds).map(i => seed + 1000L * i), dedup = false, n = nn)
    val raw = semanticNearDupPairsAdaptive(embeddings, threshold, targetCell,
        nassign, seed, n = nn, dedup = false)
      .unionByName(lsh)
    // group key by broadcast lookup on the left id (tiny: one row per
    // vector, two narrow columns)
    val groups = broadcast(
      embeddings.select(col("vec_id").as("a_id"), col(groupCol)))
    raw.join(groups, Seq("a_id"))
      .groupBy(col(groupCol))
      .agg(
        approx_count_distinct(struct(col("a_id"), col("b_id")), rsd = 0.02)
          .as("pairs_est"),
        count(lit(1)).as("candidate_rows"))
  }

  /** Seeds for [[semanticNearDupPairsHybrid]] sized from the banding
    * math so the LSH tier alone reaches `lshTarget` recall on pairs AT
    * the threshold: with [[annParams]]' (bands, bits) for this corpus,
    * a pair at exactly cosine=θ survives one seed with
    * p_seed = 1−(1−p_bit^bits)^bands, p_bit = 1−acos(θ)/π, and
    * L = ln(1−target)/ln(1−p_seed) independent seeds push the miss
    * rate below 1−target. Capped at `maxSeeds` (each seed adds
    * bands·n shuffle rows to the fused LSH pass — the cap keeps a
    * low-θ request from silently asking for 100 seeds' worth; past
    * it, this LOUDLY returns the cap so the caller sees the spend). Pairs ABOVE θ do strictly better (p_bit
    * rises with cosine), so the target is a floor for the whole
    * admitted range, and the cell tier's independent recall stacks on
    * top. Resolves to 1 at gate scales (8×4 bits ⇒ p_seed ≥ 0.79 at
    * θ=0.6 ⇒ L=1), so the catalog oracle is unaffected.
    *
    * The default target is 0.7, deliberately ABOVE the documented
    * ≥ 0.6 per-label floor contract: r8 measured the sf25 floor at
    * exactly 0.600 with a 0.6-sized L — zero margin, one unlucky
    * seed from a contract breach. Sizing the LSH tier to 0.7 (L
    * 13 → 16 at sf25, the cap; unchanged L=1 at gate scales and L=2
    * at sf1) buys the headroom the contract is recorded with.
    */
  def semSeedsFor(n: Long, theta: Double, lshTarget: Double = 0.7,
                  maxSeeds: Int = 16, targetBucket: Int = 180): Int = {
    require(theta > -1.0 && theta < 1.0, s"cosine threshold out of range: $theta")
    require(lshTarget > 0.0 && lshTarget < 1.0, s"target out of range: $lshTarget")
    val (bands, bits) = annParams(n, targetBucket)
    val pBit = 1.0 - math.acos(theta) / math.Pi
    val pSeed = 1.0 - math.pow(1.0 - math.pow(pBit, bits.toDouble), bands.toDouble)
    if (pSeed >= lshTarget) 1
    else math.min(maxSeeds,
      math.ceil(math.log(1.0 - lshTarget) / math.log(1.0 - pSeed)).toInt)
  }

  /** [[semanticNearDupPairs]] folded to a per-vector verdict:
    * keep-first-wins — a vector is dropped iff a LOWER-id vector in
    * its cell sits within the threshold, `canon_id` the smallest such
    * neighbor (the greedy rule every other dedup surface here uses;
    * transitive-closure grouping is [[connectedComponentsStar]]'s job
    * when chains matter).
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.5,
                    nlist: Int = 16, nassign: Int = 3,
                    seed: Long = 42L): DataFrame = {
    val drops = semanticNearDupPairs(embeddings, threshold, nlist, nassign, seed)
      .groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("canon_id"))
    embeddings.select(col("vec_id")).join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("canon_id").isNull.as("keep"), col("canon_id"))
  }

  def embeddingNearDups(embeddings: DataFrame, threshold: Double = 0.5,
                        parallelism: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions._
    val base = embeddings.select(
      col("vec_id"), col("label"), col("embedding"),
      normD(col("embedding")).as("nrm"))
    val nParts = if (parallelism > 0) parallelism
      else embeddings.sparkSession.sessionState.conf.numShufflePartitions
    base.repartition(nParts).alias("l")
      .join(base.alias("r"),
        col("l.label") === col("r.label") && col("l.vec_id") < col("r.vec_id"))
      .withColumn("cosine",
        dotD(col("l.embedding"), col("r.embedding")) / (col("l.nrm") * col("r.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("l.vec_id").as("a_id"), col("r.vec_id").as("b_id"),
        round(col("cosine"), 6).as("cosine"))
  }
}
