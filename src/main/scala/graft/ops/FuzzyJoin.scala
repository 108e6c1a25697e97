package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance self-join via segment indexing (the PassJoin scheme,
  * Li/Deng/Feng ICDE'11 — public algorithm, re-derived here on the
  * DataFrame API).
  *
  * Pigeonhole: split every string into k+1 segments; if
  * lev(a, b) ≤ k then a contains at least one of b's segments verbatim,
  * starting within ±k of that segment's home position (each edit
  * before the segment shifts it by at most one). So candidate pairs
  * come from an EQUI-join — index side emits k+1 (segment, position)
  * keys, probe side emits the (k+1)·(2k+1) substrings inside the
  * shift windows — and only candidates run the O(k·n) banded DP.
  *
  * Scale shape: the all-pairs-within-block formulation is quadratic in
  * block size, so doubling the data quadruples the comparisons; here
  * candidates are bounded by actual segment collisions, and every step
  * (explode → hash join → verify) is shuffle-parallel. Verified exact
  * against the naive form in `FuzzyJoinSpec` (the threshold-DP verify
  * keeps precision; segment windows guarantee recall).
  */
object FuzzyJoin {

  /** All pairs (a_key < b_key, same `block` values, equal length ≥ k+1)
    * with lev ≤ k. Output: a_key, b_key, dist.
    *
    * `block` columns must make length equal on both sides (include a
    * length column); strings shorter than k+1 would have empty
    * segments and must be filtered by the caller (or pair-compared —
    * there are at most |alphabet|^k of them per block anyway).
    */
  def selfJoin(df: DataFrame, key: Column, text: Column,
               block: Seq[Column], k: Int = 2): DataFrame =
    candidatePairs(df, key, text, block, k)
      .distinct()
      .withColumn("dist",
        graft.functions.EditDistance.levWithin(col("a_txt"), col("b_txt"), k).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(col("a_key"), col("b_key"), col("dist"))

  /** Same contract as [[selfJoin]], collapsing duplicate texts FIRST:
    * verification runs once per distinct (block, text) pair, and an
    * equi-join expands verified text pairs back to key pairs. Corpus
    * text columns repeat heavily (the bench fixture has 64 distinct
    * names across 200k parts), so pair-enumeration forms re-verify
    * the same text pair millions of times; collapsing makes the
    * verify step quadratic in DISTINCT texts per block and leaves the
    * output expansion as a broadcast/equi join that just streams —
    * the query becomes output-bound, which at 18.8M result pairs (sf1)
    * is the floor. Measured at sf1 (SCALE.md, "What sf1/sf5 caught"):
    * 4.3 s here vs
    * 85.8 s block-quadratic (26M Myers calls) vs 164 s segment index
    * (211M candidates — every planted dup pair collides on every
    * segment). Never worse than enumeration (distinct ≤ rows; one
    * extra linear shuffle). When distinct texts themselves outgrow
    * block-quadratic, swap the text-pair step for the segment index
    * ([[candidatePairs]]) — same expansion.
    */
  def selfJoinCollapsed(df: DataFrame, key: Column, text: Column,
                        block: Seq[Column], k: Int = 2): DataFrame =
    collapsedStages(df, key, text, block, k)._4

  /** The PAIR COUNT of [[selfJoinCollapsed]] computed ANALYTICALLY —
    * per-(block, text) key counts replace the key expansion: a
    * verified distinct-text pair (t1, t2) contributes n1·n2 key pairs,
    * a same-text group C(n,2) — so the result (one row: `n_pairs`,
    * `n_text_pairs`) costs the scan + distinct + Myers verify + one
    * group-by, NEVER the output fan-out. This is the production form
    * for dedup PLANNING ("how many near-dup pairs are in this
    * corpus?") where the catalog's enumeration form is output-bound by
    * construction (11.8 G pairs at sf25 — the 100 TB answer is to
    * decide from the count, then enumerate only the blocks you act
    * on). Counts exactly match `selfJoinCollapsed(...).count()` when
    * keys are distinct and non-null (the fixture's shape; the
    * enumeration form's NULL-key orientation rule has no analytic
    * twin — callers with NULL keys pre-assign surrogates, as there).
    */
  def selfJoinCollapsedCount(df: DataFrame, key: Column, text: Column,
                             block: Seq[Column], k: Int = 2): DataFrame = {
    val (base, _, tp, _) = collapsedStages(df, key, text, block, k)
    val blockNames = block.indices.map(i => s"_b$i")
    val cnts = base
      .groupBy(blockNames.map(col) :+ col("_txt"): _*)
      .agg(count(lit(1)).as("_n"))
    def cside(t: String, n: String) = cnts.select(
      blockNames.map(col) ++ Seq(col("_txt").as(t), col("_n").as(n)): _*)
    // arithmetic stays INTEGRAL end to end: Spark's `/` is double
    // division and would round counts past 2^53 — n·(n−1) is always
    // even, so a right shift IS the exact halving, and long products /
    // long sums keep the aggregate exact through the full Long range
    // (the planning-form contract: the count equals the expansion's).
    // Long overflow needs one text duplicated > ~3.0e9 times or a
    // total pair count past 2^63 — both far beyond a corpus any
    // enumeration could ever check against, and the same ceiling the
    // expansion's count() has
    tp.join(cside("_t1", "_n1"), blockNames :+ "_t1")
      .join(cside("_t2", "_n2"), blockNames :+ "_t2")
      .select(when(col("_t1") === col("_t2"),
          shiftright(col("_n1") * (col("_n1") - lit(1L)), 1))
        .otherwise(col("_n1") * col("_n2")).as("_pairs"))
      .agg(coalesce(sum(col("_pairs")), lit(0L)).cast("long").as("n_pairs"),
        count(lit(1)).as("n_text_pairs"))
  }

  /** (normalized base, distinct texts, verified text pairs, expanded
    * result) — stages exposed package-private so probes can time each
    * and [[selfJoinCollapsedCount]] can count without expanding. */
  private[graft] def collapsedStages(df: DataFrame, key: Column, text: Column,
                                     block: Seq[Column], k: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val blockNames = block.indices.map(i => s"_b$i")
    val base = df.select(
      Seq(key.as("_key"), text.as("_txt")) ++
        block.zip(blockNames).map { case (c, nm) => c.as(nm) }: _*)
      .filter(col("_txt").isNotNull)
    val d = base.select(blockNames.map(col) :+ col("_txt"): _*).distinct()
    val bEq = blockNames.map(nm => col(s"dl.$nm") === col(s"dr.$nm"))
      .reduce(_ && _)
    val tp = d.alias("dl")
      .join(d.alias("dr"), bEq && col("dl._txt") <= col("dr._txt"))
      .withColumn("dist", graft.functions.EditDistance
        .levWithin(col("dl._txt"), col("dr._txt"), k).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(blockNames.map(nm => col(s"dl.$nm")) ++
        Seq(col("dl._txt").as("_t1"), col("dr._txt").as("_t2"),
          col("dist")): _*)
    val e1 = base.select(blockNames.map(col) ++
      Seq(col("_txt").as("_t1"), col("_key").as("_k1")): _*)
    val e2 = base.select(blockNames.map(col) ++
      Seq(col("_txt").as("_t2"), col("_key").as("_k2")): _*)
    // tp is the STREAM side of the expansion joins (e1/e2, being
    // bigger, broadcast below the threshold), and the output fans out
    // ~|group|² per tp row. AQE coalesces tp's post-distinct exchange
    // to one partition on its byte size — blind to that fan-out — so
    // the whole output would generate in ONE task. An explicit
    // numbered repartition is preserved by AQE and spreads the
    // generation; tp is the distinct-text pair set, always tiny, so
    // the extra exchange costs nothing at any scale. (sf5: 469M
    // output pairs, 95 s single-task → 10.2 s spread.)
    val tpSpread = tp.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val out = tpSpread.join(e1, blockNames :+ "_t1")
      .join(e2, blockNames :+ "_t2")
      // same-text groups expand k1×k2 both ways: keep one orientation;
      // distinct-text pairs appear once per (k1, k2) already. A key
      // carrying TWO near-dup texts would otherwise emit a (k,k)
      // self-pair — meaningless for dedup grouping — so distinct keys
      // are required outright (r3 ADVICE bug, regression-tested).
      // Null-SAFE inequality: a plain =!= is NULL for NULL keys and
      // would silently drop NULL-keyed pairs that previously survived
      // via _t1 =!= _t2 (r5 ADVICE). NULL-keyed SAME-text pairs are
      // still dropped (_k1 < _k2 is NULL) — orientation is undefined
      // without a comparable key, so callers wanting those must
      // pre-assign surrogate keys.
      .filter(!(col("_k1") <=> col("_k2")) &&
        (col("_t1") =!= col("_t2") || col("_k1") < col("_k2")))
      .select(least(col("_k1"), col("_k2")).as("a_key"),
        greatest(col("_k1"), col("_k2")).as("b_key"), col("dist"))
    (base, d, tp, out)
  }

  /** The pre-verification candidate stream (ordered pairs + texts),
    * package-visible so probes can measure collision fan-out. */
  private[graft] def candidatePairs(df: DataFrame, key: Column, text: Column,
                                    block: Seq[Column], k: Int): DataFrame = {
    val n = k + 1
    val blockNames = block.indices.map(i => s"_b$i")
    val base = df.select(
      Seq(key.as("_key"), text.as("_txt"), length(text).as("_len")) ++
        block.zip(blockNames).map { case (c, nm) => c.as(nm) }: _*)
      .filter(col("_len") >= n)

    // per-row segment geometry: seg i of a len-L string starts at
    // p_i = i*(L div n) + min(i, L mod n), length (L div n) + (i < L mod n)
    val L = col("_len").cast("int")
    val d = floor(L / n).cast("int")
    val r = pmod(L, lit(n))
    val segStart = col("_i") * d + least(col("_i"), r)
    val segLen = d + when(col("_i") < r, 1).otherwise(0)

    val idx = base
      .select(col("*"), explode(sequence(lit(0), lit(n - 1))).as("_i"))
      .withColumn("_seg", col("_txt").substr(segStart + 1, segLen))

    val probe = base
      .select(col("*"), explode(sequence(lit(0), lit(n - 1))).as("_i"))
      .withColumn("_s", explode(sequence(lit(-k), lit(k))))
      .withColumn("_start", segStart + col("_s"))
      .withColumn("_slen", segLen)
      .filter(col("_start") >= 0 && col("_start") + col("_slen") <= L)
      .withColumn("_seg", col("_txt").substr(col("_start") + 1, col("_slen")))

    val joinCond = blockNames.map(nm => idx(nm) === probe(nm))
      .reduce(_ && _) &&
      idx("_i") === probe("_i") && idx("_seg") === probe("_seg") &&
      idx("_key") =!= probe("_key")

    idx.alias("l").join(probe.alias("r"), joinCond)
      .select(
        least(col("l._key"), col("r._key")).as("a_key"),
        greatest(col("l._key"), col("r._key")).as("b_key"),
        when(col("l._key") < col("r._key"), col("l._txt"))
          .otherwise(col("r._txt")).as("a_txt"),
        when(col("l._key") < col("r._key"), col("r._txt"))
          .otherwise(col("l._txt")).as("b_txt"))
  }
}
