package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The LLM-operator half of the catalog: similarity, dedup, text and
  * multimodal entries. */
object Catalog {
  type Fn = (SparkSession, String) => DataFrame

  def all: Map[String, Fn] = SparkEntry.queries ++ SparkEntry.benchQueries

  /** Similarity, dedup, text and multimodal entries; everything else is
    * relational or streaming-shaped. */
  def isLlm(name: String): Boolean =
    Seq("ext_", "bench_sim_", "bench_dedup_").exists(name.startsWith)

  /** The entries `catalog_llm` measures: every module family of the
    * half, a persisted-index build (`buildIndexOnce`), and a run short
    * enough that its cold and warm passes fit the benchmark's time
    * budget. The whole catalog runs in `graft.Bench`. */
  val Entries: Seq[String] = Seq(
    "bench_sim_lsh_indexed_fq", "ext_sim_topk", "ext_dedup_minhash", "ext_dedup_exact",
    "ext_tfidf", "ext_wordcount", "ext_multimodal_features")

  /** The module family an LLM-half entry's wall time is charged to. */
  def family(name: String): String = {
    val n = name.stripPrefix("bench_").stripPrefix("ext_")
    if (n.startsWith("sim_") || n.startsWith("embed_")) "ops.similarity_s"
    else if (n.startsWith("dedup_") || n.startsWith("decontaminate") ||
      n.startsWith("fuzzy_")) "ops.dedup_s"
    else if (n.startsWith("multimodal_")) "ops.multimodal_s"
    else "ops.text_s"
  }

  /** Row count and an order-insensitive fingerprint of the content:
    * the sum, modulo a prime, of a hash of each row's JSON form. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")): _*))),
      lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Unmeasured passes between the cold pass and the measured ones:
    * the first pass after the cold one is still mostly JIT compilation. */
  val WarmupPasses = 1
  /** Measured warm passes per run. A fixed count, so how far the
    * passes get down the warm-up trend does not depend on how fast the
    * box is. */
  val WarmPasses = 7

  /** Latency of each entry when the entries are submitted together and
    * served one at a time in the given order: its completion time,
    * the sum of its own and every earlier entry's service time. */
  def completionTimes(serviceMs: Seq[Double]): Seq[Double] =
    serviceMs.scanLeft(0.0)(_ + _).tail

  def readGoldens(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2).toLong)).toMap
}

/** `catalog_llm`: closed loop, one entry at a time through the `noop`
  * sink. One cold pass right after set-up (fresh JVM: JIT, schema
  * memos, index builds, calibration), [[Catalog.WarmupPasses]]
  * unmeasured warm-up passes, [[Catalog.WarmPasses]] measured warm
  * passes, then an untimed check pass against the goldens. Every warm
  * figure is built from each entry's mean time over the measured
  * passes: `warm_s` is their sum (the mean pass time), and the latency
  * percentiles are taken over the entries' completion times in a pass
  * made of those times ([[Catalog.completionTimes]]). The work is
  * fixed; `--seconds` does not change it.
  */
final class Catalog extends Workload {
  def prepare(spark: SparkSession, dir: Path): Unit = ()

  def run(ctx: Ctx): Result = {
    val fns = Catalog.all
    val entries = Catalog.Entries.map(n => n -> fns(n))
    val failedNames = mutable.LinkedHashSet.empty[String]
    final case class Timing(name: String, prepNs: Long, execNs: Long, startMs: Long, endMs: Long)

    def pass(tag: String): Seq[Timing] = entries.flatMap { case (n, fn) =>
      val startMs = System.currentTimeMillis()
      try {
        var prep = 0L
        var exec = 0L
        ctx.trace.span("catalog.entry", s"$n/$tag") {
          val (df, p) = ctx.trace.span("catalog.prep", s"$n/$tag")(fn(ctx.spark, ctx.fixtureDir))
          prep = p
          exec = ctx.trace.span("catalog.exec", s"$n/$tag") {
            df.write.mode("overwrite").format("noop").save()
          }._2
        }
        System.err.println(f"[perfbench] $n $tag prep ${prep / 1e6}%.1f ms exec ${exec / 1e6}%.1f ms")
        Some(Timing(n, prep, exec, startMs, System.currentTimeMillis()))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $n ($tag) failed: ${e.getMessage}")
          failedNames += n
          None
      }
    }
    def wall(ts: Seq[Timing]) = ts.map(t => (t.prepNs + t.execNs) / 1e9).sum

    val cold = pass("cold")
    // the first passes after the cold one are still compiling hot
    // paths; they run (and are traced) but no figure is taken from them
    (1 to Catalog.WarmupPasses).foreach(i => pass(s"warmup$i"))
    val warm = (1 to Catalog.WarmPasses).map(i => pass(s"warm$i"))

    // untimed output check
    val goldens = Catalog.readGoldens(ctx.goldens)
    val got = entries.flatMap { case (n, fn) =>
      try Some(n -> Catalog.fingerprint(fn(ctx.spark, ctx.fixtureDir)))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n (check) failed: ${e.getMessage}")
        failedNames += n
        None
      }
    }.toMap
    sys.props.get("perfbench.record").foreach { p =>
      val lines = got.toSeq.sortBy(_._1).map { case (n, (r, f)) => s"$n\t$r\t$f" }
      Files.write(Path.of(p), (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    entries.foreach { case (n, _) =>
      if (goldens.get(n) != got.get(n)) {
        if (got.contains(n))
          System.err.println(s"[perfbench] $n: got ${got(n)}, golden ${goldens.get(n)}")
        failedNames += n
      }
    }

    // each entry's mean over the measured passes. The JIT is still
    // compiling Catalyst code through all of them, so pass times drift
    // down unevenly and no single pass is typical; a mean over all of
    // them read steadier across runs than each entry's fastest pass or
    // median pass. An entry that failed in any pass is already counted
    // in `failedNames`.
    val byEntry = warm.flatten.groupBy(_.name)
    def wallNs(t: Timing) = t.prepNs + t.execNs
    def meanS(ts: Seq[Timing], f: Timing => Long) = ts.map(f).sum / 1e9 / ts.size
    def sumS(f: Timing => Long) = byEntry.values.map(meanS(_, f)).sum
    val warmS = sumS(wallNs)
    // latency: a percentile over single entries' own times would be one
    // entry's time (there are seven, of very different sizes), and
    // which entry lands on it would change from run to run; completion
    // times accumulate, as a batch submitted at once waits on them
    val doneMs = Catalog.completionTimes(entries.flatMap { case (n, _) =>
      byEntry.get(n).map(meanS(_, wallNs) * 1e3)
    })
    val rows = got.values.map(_._1).sum
    val p50 = Stats.percentile(doneMs, 50)
    val p90 = Stats.percentile(doneMs, 90)
    val e2e = Map(
      "cold_s" -> Metric(wall(cold), "s", cold.size),
      "warm_s" -> Metric(warmS, "s", warm.size),
      "latency_p50_ms" -> Metric(p50.map(_.value).getOrElse(0.0), "ms", doneMs.size),
      "latency_p90_ms" -> Metric(p90.map(_.value).getOrElse(0.0), "ms", doneMs.size),
      "throughput_rows_per_s" -> Metric(if (warmS > 0) rows / warmS else 0.0, "rows/s", warm.size))

    ctx.probes.drain()
    val windows = warm.head.map(t => (t.startMs, t.endMs + 1))
    val layers = mutable.Map[String, Double](
      "catalog.prep_cold_s" -> cold.map(_.prepNs).sum / 1e9,
      "catalog.exec_cold_s" -> cold.map(_.execNs).sum / 1e9,
      "catalog.prep_warm_s" -> sumS(_.prepNs),
      "catalog.exec_warm_s" -> sumS(_.execNs))
    layers ++= ctx.probes.sparkLayer(windows)
    layers ++= ctx.probes.planningLayer(windows)
    byEntry.groupBy { case (n, _) => Catalog.family(n) }.foreach { case (f, es) =>
      layers(f) = es.values.map(meanS(_, wallNs)).sum
    }
    Result(entries.size.toLong, failedNames.size.toLong, valid = true,
      if (failedNames.isEmpty) s"${entries.size} entries, ${warm.size} warm passes"
      else s"failed: ${failedNames.mkString(" ")}", e2e, layers.toMap)
  }
}
