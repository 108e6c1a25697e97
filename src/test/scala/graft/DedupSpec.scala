package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while " +
    "seventeen astronauts carefully measure gravitational anomalies near " +
    "the ancient observatory during a long cold winter night in montana"
  private val nearDup = base.replace("cold winter", "cold snowy winter")
  private val other = "completely unrelated content about cooking pasta " +
    "with garlic butter sauce and fresh basil leaves from the garden " +
    "served alongside a crisp white wine on a warm summer evening"

  private def docs = Seq(
    (0L, base, "en", base.length.toLong),
    (1L, nearDup, "en", nearDup.length.toLong),
    (2L, other, "en", other.length.toLong),
    (3L, base, "en", base.length.toLong) // exact dup of 0
  ).toDF("doc_id", "text", "lang", "n_chars")

  test("exact dedup keeps one row per key") {
    assert(Dedup.exact(docs, Seq("text")).count() == 3)
  }

  test("deterministic exact dedup keeps the min-tiebreaker survivor") {
    val kept = Dedup.exactKeepFirst(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L)) // doc 3 (dup of 0) dropped, 0 kept
  }

  test("minhash LSH finds near-dup and exact-dup pairs, not unrelated") {
    val pairs = Dedup.minhashNearDups(docs, k = 64, bands = 16,
      shingleSize = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "exact dup must collide in every band")
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L)),
      s"near dup should survive LSH + jaccard>=0.5, got $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc paired")
  }

  test("minhash signature is deterministic across runs") {
    val a = Dedup.minhashSignatures(docs).orderBy("doc_id").collect().map(_.toSeq)
    val b = Dedup.minhashSignatures(docs).orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("simhash: identical docs distance 0, near-dup close, unrelated far") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sig(a) ^ sig(b))
    assert(ham(0L, 3L) == 0)
    assert(ham(0L, 1L) < ham(0L, 2L),
      s"near-dup ${ham(0L, 1L)} should beat unrelated ${ham(0L, 2L)}")
    val pairs = Dedup.simhashNearDups(docs, maxDist = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("ngram jaccard pairs: blocked self-join finds the dups") {
    val pairs = Dedup.ngramJaccardPairs(docs, lenBucket = 1000, threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("connected components: chains close transitively, min id wins") {
    // components: {1,2,3,4} (a chain), {10,11}, singletons absent
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components agree with naive BFS on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    // naive closure on the driver
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def component(start: Long): Set[Long] = {
      var seen = Set(start); var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      seen
    }
    val expect = adj.keys.map(n => n -> component(n).min).toMap
    // both paths must agree with the closure: the driver union–find
    // fast path (default) and the distributed min-label loop
    // (forced by a zero driver threshold)
    val fast = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    val loop = Dedup.connectedComponents(edges.toDF("a_id", "b_id"),
        driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == expect)
    assert(loop == expect)
  }

  test("star-contraction CC: parity with union-find on random graphs, log rounds on chains") {
    val rnd = new scala.util.Random(11)
    // random sparse graph: parity with the driver union-find path
    val edges = (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    val pairs = edges.toDF("a_id", "b_id")
    val star = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    val uf = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(star == uf)
    // the adversarial case the operator exists for: a 500-node chain
    // (min-label would need 500 rounds; star contraction converges
    // well inside maxIter and labels every node with the chain head)
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponentsStar(chain, maxIter = 25)
      .as[(Long, Long)].collect()
    assert(got.length == 500 && got.forall(_._2 == 0L),
      s"chain must collapse to head, got ${got.filter(_._2 != 0L).take(3).toSeq}")
  }

  test("star-contraction CC: self-loop-only nodes survive as singleton components") {
    // r3 ADVICE regression: node 7's only edge is (7,7); node 9 has a
    // self-loop AND a real edge. Both must appear in the output —
    // the old node-set derivation (post self-loop filter) dropped 7.
    val pairs = Seq((1L, 2L), (7L, 7L), (9L, 9L), (9L, 3L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 3L -> 3L, 9L -> 3L),
      s"got $got")
    // and parity with the union-find path on the same input
    val uf = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(uf == got)
  }

  test("substring dup stats: exact dups fully duplicated, unrelated at zero") {
    val short = "tiny" // below the 40-char window: zero windows, still present
    val d = docs.union(Seq((4L, short, "en", short.length.toLong))
      .toDF("doc_id", "text", "lang", "n_chars"))
    val out = Dedup.substringDupStats(d, win = 40, stride = 8)
      .select("doc_id", "n_windows", "dup_windows", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L), "every doc surfaces")
    // docs 0 and 3 are byte-identical: every window duplicated
    assert(out(0L)._4 == 1.0 && out(3L)._4 == 1.0)
    // doc 1 shares base's prefix verbatim (stride-aligned) but diverges
    // after the edit: partially duplicated, strictly between 0 and 1
    assert(out(1L)._3 > 0 && out(1L)._3 < out(1L)._2,
      s"near dup should be partially duplicated, got ${out(1L)}")
    // unrelated doc shares no 40-char run; short doc has no windows
    assert(out(2L)._3 == 0L)
    assert(out(4L) == ((4L, 0L, 0L, 0.0)))
  }

  test("substring dup stats match a naive in-memory computation") {
    def fnv(bytes: Seq[Byte]): Long =
      bytes.foldLeft(0xcbf29ce484222325L)((h, b) => (h ^ (b & 0xff)) * 0x100000001b3L)
    val win = 40
    val stride = 8
    val texts = Map(0L -> base, 1L -> nearDup, 2L -> other, 3L -> base)
    val wins = texts.toSeq.flatMap { case (id, t) =>
      val bs = t.getBytes("UTF-8")
      (0 to bs.length - win by stride).map(i => id -> fnv(bs.slice(i, i + win)))
    }
    val support = wins.distinct.groupBy(_._2).view.mapValues(_.size).toMap
    val expect = texts.keys.map { id =>
      val hs = wins.filter(_._1 == id).map(_._2)
      val dup = hs.count(h => support(h) > 1)
      (id, hs.size.toLong, dup.toLong,
        BigDecimal(dup.toDouble / hs.size).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = Dedup.substringDupStats(docs, win, stride)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("substring dup spans merge overlapping windows into maximal runs") {
    val spans = Dedup.substringDupSpans(docs, win = 40, stride = 8)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sortBy(_._1).toSeq).toMap
    // docs 0 and 3 are identical: their windows tile the whole text,
    // so the merge must collapse to ONE span starting at 0 and covering
    // through the final stride-aligned window's end
    val bs = base.getBytes("UTF-8").length
    val lastStart = ((bs - 40) / 8) * 8
    assert(spans(0L) == Seq((0L, (lastStart + 40).toLong)))
    assert(spans(3L) == spans(0L))
    // doc 1 shares only the pre-edit prefix: exactly one span, from 0,
    // ending strictly before its text end
    assert(spans(1L).size == 1 && spans(1L).head._1 == 0L)
    assert(spans(1L).head._2 < nearDup.getBytes("UTF-8").length)
    // unrelated doc: no duplicated spans at all
    assert(!spans.contains(2L))
    // spans are disjoint and sorted per doc by construction
    spans.values.foreach { ss =>
      ss.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 < s2)
        case _ =>
      }
    }
  }

  test("substring dedup apply: first occurrence survives, copies excised") {
    val out = Dedup.substringDedupApply(docs, win = 40, stride = 8)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    // doc 0 is the corpus-first occurrence of every shared window:
    // untouched
    assert(out(0L) == ((0L, base, 0L)))
    // doc 3 is byte-identical to doc 0 but later: its duplicated
    // tiling is excised — everything under the stride-aligned windows
    val bs = base.getBytes("UTF-8").length
    val lastEnd = ((bs - 40) / 8) * 8 + 40
    assert(out(3L)._3 == lastEnd.toLong,
      s"expected $lastEnd chars removed, got ${out(3L)}")
    assert(out(3L)._2 == base.substring(lastEnd))
    // doc 1 shares only the pre-edit prefix: a strict prefix removed,
    // the tail (containing the edit) kept verbatim
    assert(out(1L)._3 > 0 && out(1L)._2.nonEmpty)
    assert(nearDup.endsWith(out(1L)._2))
    // unrelated doc untouched
    assert(out(2L) == ((2L, other, 0L)))
    // removal accounting is exact
    out.values.foreach { case (id, clean, removed) =>
      val orig = Map(0L -> base, 1L -> nearDup, 2L -> other, 3L -> base)(id)
      assert(clean.length + removed == orig.length)
    }
  }

  test("embedding near-dups: duplicate vector pairs at cosine 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 2.0f), 0),
      (1L, Array(1.0f, 0.0f, 2.0f), 0),  // identical
      (2L, Array(-1.0f, 3.0f, 0.5f), 0), // different
      (3L, Array(1.0f, 0.0f, 2.0f), 1)   // identical but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDups(emb, threshold = 0.99)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    assert(pairs.head._3 == 1.0)
  }

  test("ANN embedding near-dups: recovers every planted dup, subset of exact") {
    // 150 random 64-dim vectors + 30 perturbed copies (cosine ≈ 1).
    // At threshold 0.9 no random pair qualifies (cosine ~ N(0, 1/64),
    // 0.9 is >7σ), so the exact pair set IS the planted set — and the
    // banded sign-LSH misses a cosine≈1 pair with probability ~1e-14
    // per band^8, so ANN must recover all of them.
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 150).map(i => (i.toLong, vec()))
    val dups = (0 until 30).map { i =>
      val (id, v) = bases(i)
      (1000L + id, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val ann = Dedup.embeddingNearDupsAnn(emb, threshold = 0.9)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    val exact = Dedup.embeddingNearDups(
      emb.withColumn("label", org.apache.spark.sql.functions.lit(0)),
        threshold = 0.9)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    val annSet = ann.map(p => (p._1, p._2)).toSet
    val exactSet = exact.map(p => (p._1, p._2)).toSet
    assert(annSet.subsetOf(exactSet), "ANN emitted a pair brute force did not")
    assert(exactSet == (0 until 30).map(i => (i.toLong, 1000L + i)).toSet)
    assert(annSet == exactSet, "ANN missed a planted near-dup")
    // verified cosines agree bit-for-bit with the exact path
    assert(ann.toSet.subsetOf(exact.toSet))
  }

  test("multi-seed ANN union amplifies recall at high-bits banding") {
    // at 5 bands × 12 bits a cosine≈0.92 pair survives a band only
    // with p≈0.87^12≈0.19 → single-seed recall ≈ 0.65; three
    // independent signatures → ≈ 0.96. Deterministic (fixed seeds),
    // so the measured counts are stable.
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 200).map(i => (i.toLong, vec()))
    val dups = (0 until 40).map { i =>
      val (id, v) = bases(i)
      (2000L + id, v.map(x => x + 0.43f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val planted = (0 until 40).map(i => (i.toLong, 2000L + i)).toSet
    val single = pairs(Dedup.embeddingNearDupsAnn(emb, 0.8, bands = 5, bitsPerBand = 12))
    val multi = pairs(Dedup.embeddingNearDupsAnnMulti(emb, 0.8, bands = 5,
      bitsPerBand = 12, nSeeds = 3))
    val exact = pairs(Dedup.embeddingNearDups(
      emb.withColumn("label", org.apache.spark.sql.functions.lit(0)), 0.8))
    assert(single.subsetOf(multi), "union must contain every single-seed pair")
    assert(multi.subsetOf(exact), "ANN must never emit a non-near-dup pair")
    val (rs, rm) = ((single & planted).size, (multi & planted).size)
    assert(rm > rs, s"multi-seed recall ($rm/40) must beat single-seed ($rs/40)")
    assert(rm >= 35, s"3-seed recall too low: $rm/40")
  }

  test("fused multi-seed LSH pass equals the union of per-seed passes exactly") {
    // the fused form (one scan, seed ordinal in the band key's high
    // bits, one self-join) must be a pure plan rewrite: same pair SET
    // and same verified cosines as running each seed separately and
    // unioning — pinned on the high-bits regime where seeds actually
    // differ in what they find.
    val rnd = new scala.util.Random(17)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 200).map(i => (i.toLong, vec()))
    val dups = (0 until 40).map { i =>
      val (id, v) = bases(i)
      (2000L + id, v.map(x => x + 0.43f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val seeds = Seq(42L, 1042L, 2042L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toSet
    val fused = rows(Dedup.embeddingNearDupsAnnSeeds(emb, 0.8, bands = 5,
      bitsPerBand = 12, seeds = seeds))
    val unioned = seeds.map(s => rows(Dedup.embeddingNearDupsAnn(emb, 0.8,
      bands = 5, bitsPerBand = 12, seed = s))).reduce(_ ++ _)
    assert(fused == unioned,
      s"fused/per-seed divergence: ${(fused diff unioned).size} extra, " +
        s"${(unioned diff fused).size} missing")
  }

  test("LSH band self-join feeds both sides from one exchange") {
    // the signature pass + the seeds·bands·n-row band shuffle is the
    // operator's corpus-wide cost; the per-side renames sit above the
    // shared repartition so the join must READ one exchange, not
    // write it twice. AQE decides reuse at runtime — assert on the
    // final executed plan (the semanticNearDupPairs pin's twin).
    val rnd = new scala.util.Random(19)
    val emb = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    // threshold low enough that pairs EXIST: an empty join lets AQE
    // collapse the final plan to EmptyRelation before any stage shows
    // reuse (random 64-d gaussians almost never clear cosine 0.5)
    val df = Dedup.embeddingNearDupsAnnSeeds(emb, 0.1, bands = 5,
      bitsPerBand = 12, seeds = Seq(42L, 1042L))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"band self-join did not reuse the banded exchange:\n$plan")
  }

  test("hybrid semantic pairs: multi-seed form is a superset of single-seed, subset of exact") {
    // same planted-dup geometry as the ANN multi-seed test, driven
    // through the HYBRID surface (cells ∪ L sign-LSH seeds) — the form
    // the sf25 recall contract documents. nlist floors to 16 here, so
    // the cell tier runs too; the LSH seeds use the 5×12 high-bits
    // regime via annParams only at scale, so force the comparison by
    // seed count alone.
    val rnd = new scala.util.Random(13)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 200).map(i => (i.toLong, vec()))
    val dups = (0 until 40).map { i =>
      val (id, v) = bases(i)
      (2000L + id, v.map(x => x + 0.43f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val single = pairs(Dedup.semanticNearDupPairsHybrid(emb, 0.8))
    val multi = pairs(Dedup.semanticNearDupPairsHybrid(emb, 0.8, nSeeds = 3))
    val exact = pairs(Dedup.embeddingNearDups(
      emb.withColumn("label", org.apache.spark.sql.functions.lit(0)), 0.8))
    assert(single.subsetOf(multi), "multi-seed hybrid must contain the single-seed pairs")
    assert(multi.subsetOf(exact), "hybrid must never emit a non-near-dup pair")
  }

  test("semSeedsFor: 1 at gate scales, sized from the banding math at sf25") {
    // gate scales resolve to the 8×4 regime where one seed already
    // clears the 0.7 default target — the catalog oracle is untouched
    assert(Dedup.semSeedsFor(500, 0.6) == 1)
    assert(Dedup.semSeedsFor(2000, 0.6) == 1)
    assert(Dedup.semSeedsFor(20000, 0.6) == 2) // sf1 (8×7: p_seed ≈ 0.51)
    // sf25: p_seed(θ=0.6) ≈ 0.073 → the 0.7 target asks ~17 seeds and
    // lands on the cap (r8's 0.6 target sized L=13 and measured the
    // floor at exactly 0.600 — the margin the raise exists to buy)
    assert(Dedup.semSeedsFor(500000, 0.6) == 16)
    assert(Dedup.semSeedsFor(500000, 0.6, lshTarget = 0.6) == 13)
    // the cap guards a low-θ request from silently asking for ~64 passes
    assert(Dedup.semSeedsFor(500000, 0.35) == 16)
    // tighter pairs need fewer seeds at the same scale
    assert(Dedup.semSeedsFor(500000, 0.9) <= Dedup.semSeedsFor(500000, 0.6))
  }

  test("ANN adaptive sizing pins the gate-scale choice and scales bits with n") {
    // the catalog oracle hardcodes (8 bands × 4 bits): the adaptive
    // choice MUST resolve to exactly that at both driver gate scales
    // (500 rows at sf0.01, 2000 at sf0.1) or the hash match breaks
    assert(Dedup.annParams(500) == ((8, 4)))
    assert(Dedup.annParams(2000) == ((8, 4)))
    // scale path: buckets stay ~targetBucket-sized as n grows
    assert(Dedup.annParams(20000) == ((8, 7)))   // sf1
    assert(Dedup.annParams(100000) == ((6, 10))) // sf5
    assert(Dedup.annParams(500000) == ((5, 12))) // sf25
    // signature always fits a BIGINT
    for (n <- Seq(1L, 100L, 10000L, 1000000L, 100000000L)) {
      val (bands, bits) = Dedup.annParams(n)
      assert(bands * bits <= 62)
    }
  }

  test("pairWidth: gate-scale widths pinned, saturates to session width by sf1") {
    // r15 (VERDICT r14 #3): the data-sized pair-pass width must (a)
    // resolve to the measured-near-optimal ~8-9 tasks at the sf0.1
    // gate scale, (b) saturate to the FULL session width at sf >= 1 —
    // the no-regression-at-scale argument is this formula, so pin it.
    def cellsEst(n: Long, nassign: Int, nlist: Int) =
      math.pow(n.toDouble * nassign, 2) / (2.0 * nlist)
    def lshEst(n: Long, l: Int, bands: Int, bits: Int) =
      l.toDouble * bands * n.toDouble * n.toDouble / math.pow(2.0, bits + 1)
    // sf0.1: n=2000, nlist=semParams=16, ann=(8,4)
    assert(Dedup.pairWidth(cellsEst(2000, 3, Dedup.semParams(2000)), 32) == 9)
    assert(Dedup.pairWidth(lshEst(2000, 1, 8, 4), 32) == 8)
    // 8-core session: clamped to the session width
    assert(Dedup.pairWidth(cellsEst(2000, 3, 16), 8) == 8)
    // sf1 (n=20000, nlist=80, ann=(8,7)): already saturated at 32
    assert(Dedup.pairWidth(cellsEst(20000, 3, Dedup.semParams(20000)), 32) == 32)
    assert(Dedup.pairWidth(lshEst(20000, 1, 8, 7), 32) == 32)
    // sf25 (n=500000, nlist capped 4096): saturated at any realistic width
    assert(Dedup.pairWidth(cellsEst(500000, 3, Dedup.semParams(500000)), 512) == 512)
    // unknown estimate: the pinned session width, unchanged
    assert(Dedup.pairWidth(-1.0, 32) == 32)
    assert(Dedup.pairWidth(Double.NaN, 32) == 32)
  }

  test("semantic dedup: planted tight clusters recovered, subset of exact") {
    // 8 tight clusters of 20 vectors each (within-cluster cosine ≈ 1,
    // cross-cluster ~ N(0, 1/64) ≈ 0): the cell-blocked pass must find
    // every within-cluster pair at threshold 0.9 and nothing else —
    // and every emitted pair must carry the exact cosine the
    // label-blocked scan computes.
    val rnd = new scala.util.Random(19)
    def centre() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val centres = (0 until 8).map(_ => centre())
    val emb = (0 until 160).map { i =>
      val c = centres(i % 8)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat), i % 8)
    }.toDF("vec_id", "embedding", "label")
    val sem = Dedup.semanticNearDupPairs(emb, threshold = 0.9, nlist = 8)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    val exact = Dedup.embeddingNearDups(emb, threshold = 0.9)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    val expected = (for {
      a <- 0 until 160; b <- (a + 1) until 160; if a % 8 == b % 8
    } yield (a.toLong, b.toLong)).toSet
    assert(exact.map(p => (p._1, p._2)).toSet == expected,
      "planted cluster geometry broken — exact pair set != within-cluster pairs")
    assert(sem.map(p => (p._1, p._2)).toSet == expected,
      "semantic dedup missed a within-cluster pair or emitted a cross-cluster one")
    assert(sem.toSet == exact.toSet, "in-cell cosine must equal the exact cosine")
  }

  test("count-only semantic twin: per-label HLL counts match the emission twin's distinct pairs") {
    // the bench design-cost instrument (r11 VERDICT #4) must count the
    // SAME pair population the emission form materializes: same
    // planted-cluster geometry as the semantic dedup test, so the
    // distinct pair set per label is exactly the within-cluster pairs
    import org.apache.spark.sql.functions.{col, count, lit}
    val rnd = new scala.util.Random(19)
    def centre() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val centres = (0 until 8).map(_ => centre())
    val emb = (0 until 160).map { i =>
      val c = centres(i % 8)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat), i % 8)
    }.toDF("vec_id", "embedding", "label")
    val emitted = Dedup.semanticNearDupPairsHybrid(emb, threshold = 0.9,
        n = 160L)
      .join(emb.select(col("vec_id").as("a_id"), col("label")), Seq("a_id"))
      .groupBy("label").agg(count(lit(1)).as("exact"))
      .as[(Int, Long)].collect().toMap
    val counted = Dedup.semanticNearDupPairCountsHybrid(emb, threshold = 0.9,
        n = 160L)
      .select(col("label"), col("pairs_est"), col("candidate_rows"))
      .as[(Int, Long, Long)].collect()
    assert(counted.map(_._1).toSet == emitted.keySet)
    counted.foreach { case (lbl, est, cands) =>
      val exact = emitted(lbl)
      assert(math.abs(est - exact) <= math.max(2L, (0.08 * exact).toLong),
        s"label $lbl: HLL estimate $est too far from exact $exact")
      // the raw candidate stream is a multiset over the distinct pairs
      assert(cands >= exact)
    }
  }

  test("semantic dedup verdict: keep-first-wins, canon is smallest neighbor") {
    val rnd = new scala.util.Random(23)
    val c1 = Array.fill(64)(rnd.nextGaussian().toFloat)
    val c2 = Array.fill(64)(rnd.nextGaussian().toFloat)
    // ids 0,1,2 near-identical (cluster 1); ids 3,4 near-identical
    // (cluster 2); id 5 isolated
    def jig(c: Array[Float]) = c.map(x => x + 0.005f * rnd.nextGaussian().toFloat)
    val emb = Seq(
      (0L, jig(c1)), (1L, jig(c1)), (2L, jig(c1)),
      (3L, jig(c2)), (4L, jig(c2)),
      (5L, Array.fill(64)(rnd.nextGaussian().toFloat))
    ).toDF("vec_id", "embedding")
    val verdict = Dedup.semanticDedup(emb, threshold = 0.9, nlist = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(verdict(0L) == ((true, None)))
    assert(verdict(1L) == ((false, Some(0L))))
    assert(verdict(2L) == ((false, Some(0L))), "canon must be the SMALLEST neighbor")
    assert(verdict(3L) == ((true, None)))
    assert(verdict(4L) == ((false, Some(3L))))
    assert(verdict(5L) == ((true, None)))
  }

  test("semantic adaptive sizing pins the gate-scale choice and scales with n") {
    // the catalog's recall measurements were taken at nlist=16: the
    // adaptive choice MUST resolve to exactly that at both driver
    // gate scales (500 rows at sf0.01, 2000 at sf0.1)
    assert(Dedup.semParams(500) == 16)
    assert(Dedup.semParams(2000) == 16)
    // scale path: cells stay ~250 rows as n grows, capped at 4096
    // (a 1024 cap binding between sf5 and sf25 let cells grow with
    // the data — the r7 sf25 sweep measured the pair pass exp 1.35)
    assert(Dedup.semParams(20000) == 80)     // sf1
    assert(Dedup.semParams(100000) == 400)   // sf5
    assert(Dedup.semParams(500000) == 2000)  // sf25
    assert(Dedup.semParams(100000000) == 4096) // cap
  }

  test("semantic dedup assigns cells once: side b reuses side a's exchange") {
    // the cell-assignment pass (argmin over nlist centroids) is the
    // corpus-wide cost of the operator; the self-join must feed both
    // sides from ONE exchange, not compute assignment per side (the
    // sf25 sweep measured the two-sided form assignment-bound). The
    // reuse is an AQE stage decision, so assert on the FINAL plan.
    val rnd = new scala.util.Random(31)
    val emb = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val df = Dedup.semanticNearDupPairs(emb, threshold = 0.2, nlist = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"semantic dedup self-join did not reuse the assignment exchange:\n$plan")
  }

  test("semantic dedup is deterministic across quantizer refits") {
    val rnd = new scala.util.Random(29)
    val emb = (0 until 120).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    graft.ops.Similarity.clearIvfIndexCache()
    val a = Dedup.semanticNearDupPairs(emb, threshold = 0.2, nlist = 6)
      .collect().map(_.toSeq).toSet
    graft.ops.Similarity.clearIvfIndexCache()
    val b = Dedup.semanticNearDupPairs(emb, threshold = 0.2, nlist = 6)
      .collect().map(_.toSeq).toSet
    assert(a == b, "pair set changed across KMeans refits at a fixed seed")
  }
}
